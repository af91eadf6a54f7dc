package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation,
  PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The one partition-width rule (`Tables.width`) and the split guard built
  * on it (`Tables.spread`): width comes from the bytes of the largest leaf
  * file scan, clamps without wrapping, and is decided without a Spark job.
  */
class WidthRuleSpec extends SparkSpec {
  private lazy val dir = {
    import spark.implicits._
    val d = tmpDir("width_rule")
    (1L to 300L).map(k => (k, k % 40, s"customer-$k"))
      .toDF("c_custkey", "c_nationkey", "c_name")
      .write.parquet(s"$d/customer.parquet")
    (1L to 3000L).map(k => (k, k % 300 + 1, k * 7 % 1000))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.parquet(s"$d/orders.parquet")
    (1L to 12000L).map(k => (k % 3000 + 1, k % 50, s"comment-$k"))
      .toDF("l_orderkey", "l_quantity", "l_comment")
      .write.parquet(s"$d/lineitem.parquet")
    d
  }
  private def lineitem: DataFrame = Tables.lineitem(spark, dir)

  private def par = spark.sparkContext.defaultParallelism

  test("a join-derived frame gets its largest leaf's width, not the join " +
      "estimate's") {
    val joined = lineitem
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
    // the estimate multiplies through the joins — far past par × 64 MB
    val estimate = joined.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(estimate > BigInt(par) * (64L << 20), s"estimate $estimate")
    assert(Tables.width(joined) == Tables.width(lineitem))
    assert(Tables.width(joined) < par)
  }

  test("a 2^70-byte input clamps to defaultParallelism instead of wrapping") {
    val huge = new FileIndex {
      def rootPaths: Seq[org.apache.hadoop.fs.Path] = Nil
      def listFiles(p: Seq[Expression], d: Seq[Expression])
          : Seq[PartitionDirectory] = Nil
      def inputFiles: Array[String] = Array.empty
      def refresh(): Unit = ()
      def sizeInBytes: Long = Long.MaxValue // 2^63 - 1
      def partitionSchema: StructType = StructType(Nil)
    }
    val rel = HadoopFsRelation(huge, StructType(Nil),
      StructType(Seq(StructField("x", LongType))), None,
      new ParquetFileFormat, Map.empty)(spark)
    val df = spark.baseRelationToDataFrame(rel)
    assert(Tables.width(df, expand = 128.0) == par) // 2^63 × 2^7 ≈ 2^70
  }

  test("spread and width run no Spark job on a post-shuffle frame under AQE") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val post = lineitem.groupBy(col("l_orderkey")).count()
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(
          e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("width-rule-probe", "spread + width")
      Tables.spread(post, col("l_orderkey"))
      Tables.width(post)
      // a marker job behind the probe: the listener bus is FIFO, so once
      // the marker is seen every probe-group job would have been too
      sc.setJobGroup("width-rule-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("width-rule-marker") &&
          System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("width-rule-marker"))
      assert(!groups.contains("width-rule-probe"),
        "spread/width executed a Spark job")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a streaming frame passes through spread untouched") {
    val stream = spark.readStream.format("rate").load()
    assert(Tables.spread(stream, col("value")) eq stream)
  }
}
