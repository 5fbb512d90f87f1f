"""Seeded FHIR NDJSON generator for the etl_jobs workload.

Writes `n_projects` projects in the commit layout the pod imports (one
`<Type>.ndjson` per resource type in each commit directory) and a
`manifest.json` with every project's commit directories, per-type resource
counts and input bytes. Project sizes follow a Zipf law on rank (project k
has about `largest / (k + 1)` resources). The last project is a two-commit
push (its patients split across both commits) whose second commit has no
DocumentReference file, the pod's empty-load path.

The shape is fixed; the seed sets every value inside it.

    python3 perfbench/gen_fhir.py <out_dir> <largest> <seed> [n_projects]
"""
import json
import os
import random
import sys

TYPES = ["ResearchStudy", "Patient", "Observation", "DocumentReference"]
CODES = ["8867-4", "8480-6", "8462-4", "29463-7", "8302-2", "39156-5", "2339-0"]
OBS_PER_PATIENT = 8
DOCS_PER_PATIENT = 1


def _patient(rng, pid):
    return {"resourceType": "Patient", "id": pid,
            "gender": rng.choice(["female", "male", "other", "unknown"]),
            "birthDate": f"{rng.randint(1930, 2020)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
            "identifier": [f"mrn#{rng.randint(0, 10**9)}"]}


def _observation(rng, oid, pid):
    return {"resourceType": "Observation", "id": oid, "patient_id": pid,
            "code": rng.choice(CODES), "value_numeric": round(rng.uniform(20.0, 200.0), 2),
            "effectiveDateTime": f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
                                 f"T{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:00Z"}


def _document(rng, did, pid):
    return {"resourceType": "DocumentReference", "id": did, "patient_id": pid,
            "content_url": f"s3://bench-bucket/{did}.pdf",
            "content_size": rng.randint(1000, 5_000_000),
            "date": f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}T12:00:00Z"}


def _study(rng, sid, project):
    return {"resourceType": "ResearchStudy", "id": sid, "status": "active",
            "description": f"Benchmark study for {project} ({rng.randint(0, 10**6)})",
            "identifier_coding": [f"https://bench.example.org/{project}#{sid}"]}


def _write(path, rows):
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")))
            f.write("\n")
    return os.path.getsize(path)


def generate(out, largest, seed, n_projects=8):
    rng = random.Random(seed)
    per_patient = 1 + OBS_PER_PATIENT + DOCS_PER_PATIENT
    projects = []
    two_commit = n_projects - 1
    for rank in range(n_projects):
        name = f"p{rank}"
        patients = max(2, largest // (rank + 1) // per_patient)
        n_commits = 2 if rank == two_commit else 1
        counts = dict.fromkeys(TYPES, 0)
        commits, size = [], 0
        for c in range(n_commits):
            rel = f"{name}/c{c}"
            d = os.path.join(out, rel)
            os.makedirs(d, exist_ok=True)
            lo, hi = c * patients // n_commits, (c + 1) * patients // n_commits
            pids = [f"pat-{name}-{i}" for i in range(lo, hi)]
            no_docs = rank == two_commit and c == n_commits - 1
            rows = {"ResearchStudy": [_study(rng, f"study-{name}-c{c}", name)],
                    "Patient": [_patient(rng, p) for p in pids],
                    "Observation": [_observation(rng, f"obs-{p}-{j}", p)
                                    for p in pids for j in range(OBS_PER_PATIENT)],
                    "DocumentReference": [] if no_docs else
                    [_document(rng, f"doc-{p}-{j}", p) for p in pids for j in range(DOCS_PER_PATIENT)]}
            for t in TYPES:
                if t == "DocumentReference" and no_docs:
                    continue
                size += _write(os.path.join(d, f"{t}.ndjson"), rows[t])
                counts[t] += len(rows[t])
            commits.append(rel)
        projects.append({"project_id": f"bench-{name}", "commits": commits,
                         "counts": counts, "input_bytes": size})
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump({"seed": seed, "largest": largest, "projects": projects}, f, indent=1)
    return projects


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]),
             int(sys.argv[4]) if len(sys.argv) > 4 else 8)
