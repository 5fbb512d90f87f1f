package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** NDJSON (one JSON document per line) sources — the reference's input
  * format (etl-job/fhir_import_export.py:210-213: one `<Type>.ndjson` per
  * resource type).
  *
  * Semantics preserved from the reference:
  *  - missing file ⇒ empty-but-schema'd DataFrame, not a failure (the
  *    `/dev/null` fallback at :234-258 — "ensure index exists even with
  *    zero rows");
  *  - schema is supplied externally (the reference's dictionary-driven
  *    schema-on-read, :411-414) — `spark.read.schema(st).json` keeps the
  *    scan schema-pruned and avoids a schema-inference pass over 100 TB;
  *  - corrupt lines land in `_corrupt_record` under the default PERMISSIVE
  *    mode when the caller's schema includes it.
  */
object Ndjson {

  /** Read `dir/<name>.ndjson` with the given schema; empty DataFrame with
    * the same schema when the file is absent. `dir` is a Hadoop path (a
    * plain path or a URI such as `file:///…`). */
  def readOrEmpty(spark: SparkSession, dir: String, name: String,
                  schema: StructType): DataFrame =
    readOrEmpty(spark, Seq(dir), name, schema)

  /** Read `<name>.ndjson` from every dir that has one as ONE scan (one
    * file listing, one relation, one broadcast of the Hadoop conf), not a
    * union of per-dir scans; empty DataFrame with the schema when no dir
    * has the file. */
  def readOrEmpty(spark: SparkSession, dirs: Seq[String], name: String,
                  schema: StructType): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val paths = dirs.map(new Path(_, s"$name.ndjson"))
      .filter(p => p.getFileSystem(conf).exists(p)).map(_.toString)
    if (paths.nonEmpty) spark.read.schema(schema).json(paths: _*)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }
}
