package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.Column

/** Loaders for the driver testdata tables (/root/repo/TESTDATA.md).
  *
  * Every query reads through here so that the scan is a plain columnar
  * parquet scan: Catalyst prunes columns and pushes predicates into the
  * parquet reader (verify with `.explain("formatted")` → `PushedFilters`,
  * `ReadSchema`). At cluster scale the same loaders work unchanged on a
  * directory of many files.
  */
object Tables {
  /** Parquet SCHEMA memo, keyed by [[fingerprint]] (so a regenerated
    * fixture re-infers). `spark.read.parquet` without a schema runs a
    * footer-inference job on EVERY call — measured 75 ms/call warm at
    * sf0.1 vs 8 ms with the schema supplied (the `ProbeRead` probe, now
    * only in the git history) — and a plan builder calls [[table]] once
    * per table REFERENCE, inside the bench's timed window. Metadata-only
    * memoization (the [[rowCountCache]] discipline): every query still
    * computes results from the parquet files on every run. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val sch = schemaCache.computeIfAbsent(
      fingerprint(spark, dir, name),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** events.ts has shipped in two physical parquet forms across fixture
    * generations: TIMESTAMP(NANOS) (rejected by Spark's vectorized reader —
    * read as raw nanos via the legacy conf and truncate to micros, exactly
    * DuckDB's ns→µs cast) and plain TIMESTAMP(MICROS, isAdjustedToUTC=false)
    * (read as TIMESTAMP_NTZ — cast to session-local TIMESTAMP, a wall-clock
    * no-op under the UTC session [[GraftSession]] enforces). Sniffing the
    * decoded type keeps every downstream query and its DuckDB oracle (which
    * sees a naive TIMESTAMP either way) byte-identical on both fixtures.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", F.col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Cache key for a table under a dataset dir that changes when the
    * underlying files change (path alone would serve stale trained
    * artifacts if a fixture is regenerated in place within the JVM
    * session): the (path, length, mtime) listing of the table, hashed.
    * Used to memoize trained index/tokenizer artifacts (IVF centroids in
    * [[graft.operators.Vectors]], BPE merges in [[graft.operators.Bpe]]). */
  def fingerprint(s: SparkSession, dir: String, name: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val listing =
      if (!fs.exists(p)) "absent"
      else {
        val statuses =
          if (fs.getFileStatus(p).isDirectory) fs.listStatus(p).toSeq
          else Seq(fs.getFileStatus(p))
        statuses.sortBy(_.getPath.toString)
          .map(st => s"${st.getPath}:${st.getLen}:${st.getModificationTime}")
          .mkString("|")
      }
    s"$dir/$name@${listing.hashCode}"
  }

  private val rowCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Driver-side parquet-footer row count — NO Spark job: sums the
    * footer record counts of the table's files, memoized by
    * [[fingerprint]]. This is what lets data-dependent plan parameters
    * (the LSH band width in [[graft.operators.Dedup]]) auto-size from
    * the corpus cardinality while plan builders stay pure; cost is one
    * footer read per file per fixture generation, O(#files) metadata IO
    * — the same price a NumRowGroups/statistics planner pays. */
  def metadataRowCount(s: SparkSession, dir: String, name: String): Long =
    rowCountCache.computeIfAbsent(fingerprint(s, dir, name), { _ =>
      val conf = s.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
      val fs = p.getFileSystem(conf)
      // RECURSIVE listing: a partitioned/bucketed layout nests its part
      // files under key=value subdirectories — a flat listStatus would see
      // zero footers, silently report 0 rows, and auto-sized parameters
      // (the LSH band width) would collapse to their floor, reintroducing
      // the exact super-linear regression auto-sizing exists to prevent.
      val files: Seq[org.apache.hadoop.fs.FileStatus] =
        if (fs.getFileStatus(p).isDirectory) {
          val it = fs.listFiles(p, true)
          val b = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
          while (it.hasNext) {
            val st = it.next()
            if (st.getPath.getName.endsWith(".parquet")) b += st
          }
          b.result()
        } else Seq(fs.getFileStatus(p))
      require(files.nonEmpty,
        s"metadataRowCount: no .parquet files under $p — an unreadable " +
        "layout must fail loudly, not under-size data-dependent plan knobs")
      files.map { st =>
        val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(st.getPath, conf))
        try rdr.getRecordCount finally rdr.close()
      }.sum
    })

  /** Money arithmetic done in exact decimal, surfaced as double.
    *
    * Summing doubles is order-dependent, and Spark's shuffle order differs
    * from DuckDB's scan order; casting to DECIMAL(18,2) first makes the sum
    * exact and therefore bit-identical in both engines regardless of
    * partitioning — this is also the right call at 100 TB, where partial
    * aggregation order is nondeterministic by design.
    */
  val Money: DecimalType = DecimalType(18, 2)
  def money(c: Column): Column = c.cast(Money)
  def asDouble(c: Column): Column = c.cast("double")

  /** Exact decimal Σ with a LONG hot loop — value-identical to
    * `asDouble(sum(e))` over an exact-decimal `e`, without decimal
    * arithmetic in the aggregate's accumulate/merge path.
    *
    * Why: this rig has a documented per-JVM straggler mode
    * (docs/SCALE.md round-10) where ONE whole-stage-codegen'd
    * decimal-sum task runs `Decimal.toPrecision` frames at
    * interpreter speed for minutes. Quantizing to scaled longs once
    * per ROW (scan/project stage), summing plain longs, and
    * converting back per GROUP removes that substrate from every hot
    * loop; it is also simply faster (a long add vs a checked decimal
    * add per row) and maps to the same partial+final HashAggregate.
    *
    * Exactness: `e·10^digits` is integral (digits ≥ scale of e), the
    * long sum is exact, and the final decimal division is exact at
    * the result scale — so the double conversion is the same single
    * correctly-rounded step the decimal sum produced.
    * Value bound: |Σ e| < 2^63 / 10^digits — at digits=4 that is
    * 9.2e14 in money units per group, ~1e10 max-priced lineitem rows
    * per group (sf ≈ 1500, beyond the 100 TB target); the sf1 soak
    * is the standing overflow gate for this class. */
  def sumExactAsDouble(e: Column, digits: Int): Column = {
    val f = math.pow(10, digits).toLong
    (F.sum((e * f).cast("long")).cast(DecimalType(38, 0)) / f)
      .cast("double")
  }

  /** [[sumExactAsDouble]] for a money column: the drop-in for the
    * catalog-wide `asDouble(sum(money(c)))` pattern. */
  def sumMoneyAsDouble(c: Column): Column = sumExactAsDouble(money(c), 2)
}
