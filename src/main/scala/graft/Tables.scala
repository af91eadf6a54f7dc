package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FilePartition,
  HadoopFsRelation, LogicalRelation}

/** Parquet star-schema loaders (driver fixtures, see TESTDATA.md).
  *
  * The reference engine's data model is "recordset = byte stream of rows"
  * piped per-node (reference: ecl/HDFSConnector.ecl:82-99); here a table is a
  * `DataFrame` backed by a splittable columnar source, so partition planning,
  * column pruning and predicate pushdown are Catalyst's job.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Normalize an events-shaped frame's `ts` to TimestampType, whatever
    * vintage it was read as. Shared by the batch loader and the streaming
    * source (`EventStreaming.readEventStream`) so both branch identically.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df // already TimestampType — pass through
    }
  }

  /** Schema-adaptive events loader. The fixture's `ts` column has shipped in
    * two vintages: TIMESTAMP(NANOS) (which Spark's parquet reader only admits
    * as a long via `nanosAsLong`, then floor-divided to micros — integer
    * `div`, not `/`, since ns-since-epoch exceeds double's 53-bit mantissa)
    * and plain `timestamp[us]`. Branch on the observed dtype so the loader
    * survives either vintage; both paths normalize to TimestampType so
    * `window()` / `unix_micros` downstream behave identically.
    */
  private def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.normalizeEventTs(t(spark, dir, "events"))
  }

  /** Input bytes per task: AQE's advisory partition size. */
  private val TargetBytes = 64L << 20

  /** Least input a floor task is given (see [[width]]). */
  private val FloorTaskBytes = 64L << 10

  /** THE partition-width rule, for every stage that pins its own width
    * ([[spread]], the bucket-key exchanges ahead of `Dedup.capBuckets`, the
    * `Dedup.dupClusters` fixpoint):
    *
    *   clamp(leafBytes × expand / 64 MB, floor, defaultParallelism)
    *   floor = clamp(leafBytes / 64 KB, 1, defaultParallelism / 4)
    *
    * `leafBytes` is the file-index size of the largest file scan under
    * `df`: the input sizes the work, as h2h gives each node a byte range
    * of the file. Never Catalyst's estimate of a derived frame (estimates
    * multiply through joins: lineitem ⋈ orders ⋈ customer at sf0.01
    * claims ~10^16 bytes), and never a Spark job. The largest leaf, not
    * the sum, because a self-join scans one file twice.
    *
    * These stages feed compute-dense per-row work (tokenize, in-bucket
    * pair generation) whose shuffled bytes are small, so AQE would
    * coalesce them to 1-2 tasks (d05's pair stage ran 1.04 s on 2 of 32
    * cores); an explicit `repartition(width, keys)` is never coalesced.
    * The floor is a quarter of the cores because per-task launch cost
    * (~10 ms) makes sub-second stages amortize poorly past a handful of
    * tasks (32-task micro-stages at sf0.1 cost ~0.35 s whatever their
    * work), yet a 600 KB document scan must still tokenize on 8 of 32
    * cores; it gives each task at least 64 KB, so the fixpoint's pair
    * table of a few KB stays on one task (at 8, d08, d15 and p12 ran
    * 0.2-0.6 s slower on local[32]). The clamp is taken in BigDecimal so
    * no byte count can wrap the Int.
    */
  def width(df: DataFrame, expand: Double = 1.0): Int = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val bytes = BigDecimal(largestLeaf(df).fold(0L)(_.location.sizeInBytes))
    val floor = (bytes / FloorTaskBytes).min(par / 4).max(1)
    (bytes * expand / TargetBytes).max(floor).min(par).toInt
  }

  private def largestLeaf(df: DataFrame): Option[HadoopFsRelation] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs
    }.maxByOption(_.location.sizeInBytes)

  /** Read splits of the largest leaf scan: each splittable file cut into
    * `maxSplitBytes` ranges, as the file scan plans them. (It also packs
    * small files together, but only once a core's share of the input
    * exceeds the per-file open cost, when there are ~par splits anyway.)
    */
  private def leafSplits(df: DataFrame): Long = largestLeaf(df).fold(0L) {
    fs =>
      val dirs = fs.location.listFiles(Nil, Nil)
      val maxSplit = FilePartition.maxSplitBytes(fs.sparkSession, dirs)
      dirs.flatMap(_.files).map { f =>
        if (fs.fileFormat.isSplitable(fs.sparkSession, fs.options, f.getPath))
          (f.getLen + maxSplit - 1) / maxSplit
        else 1L
      }.sum
  }

  /** Guard against INPUT-SPLIT SHORTFALL ahead of expensive per-row work
    * (optimization guide §2.5: "one huge unsplittable file … repartition
    * immediately after the read"). The sf fixture tables are
    * single-row-group parquet files, so every scan plans as ONE task and
    * costly per-row projections downstream (tokenize, shingle explode,
    * regex scoring) serialize on a single core while the rest of the
    * cluster idles. When the leaf scan yields fewer splits than
    * [[width]], redistribute rows ONCE by a deterministic key hash — the
    * exchange moves raw bytes cheaply and the expensive map work then
    * runs wide. When the input already arrives in that many splits (any
    * real corpus at the 100 TB design scale) this is a NO-OP: no exchange
    * is added, so it cannot pessimize the scaled path. Only applied where
    * results are provably placement-independent (commutative aggregates,
    * per-key windows with total per-key orderings); never under
    * `spark_partition_id`-keyed folds. Streaming frames pass through
    * untouched: micro-batch input sizing belongs to the stream planner.
    */
  def spread(df: DataFrame, key: Column*): DataFrame = {
    if (df.isStreaming) return df
    val w = width(df)
    if (leafSplits(df) >= w) df else df.repartition(w, key: _*)
  }

  def lineitem(s: SparkSession, d: String): DataFrame  = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame    = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame  = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame    = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame    = t(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame    = eventsRaw(s, d)
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}

/** A named group of queries plus (where SQL-expressible) DuckDB oracles.
  * Contract per the driver: `queries` keys ⊇ `oracles` keys; column names of
  * the Spark result and the oracle SQL must match exactly.
  */
trait QueryPack {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
