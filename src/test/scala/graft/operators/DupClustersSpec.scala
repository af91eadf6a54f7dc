package graft.operators

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.internal.SQLConf

/** Connected-components label propagation (the pairs → clusters step):
  * convergence must cross multi-hop chains, not just direct pairs — a
  * 5-chain needs several propagation rounds.
  */
class DupClustersSpec extends SparkSpec {

  test("a 5-chain and a separate pair collapse to two components") {
    import spark.implicits._
    val pairs = Seq(
      (2L, 1L), (2L, 3L), (3L, 4L), (5L, 4L), // chain 1-2-3-4-5, mixed order
      (10L, 11L)
    ).toDF("doc_a", "doc_b")
    val out = java.nio.file.Files.createTempDirectory("dup_clusters")
      .resolve("labels").toString
    val comp = Dedup.dupClusters(spark, pairs, out).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((1L to 5L).forall(comp(_) == 1L),
      s"chain must collapse to min id: $comp")
    assert(comp(10L) == 10L && comp(11L) == 10L)
  }

  test("dupClusters leaves nothing in the shared CacheManager") {
    import spark.implicits._
    // the CacheManager is per-SparkContext, shared by every suite in the
    // JVM — start from a clean slate so the assertion sees only what
    // dupClusters itself leaves behind
    spark.sharedState.cacheManager.clearCache()
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val out = java.nio.file.Files.createTempDirectory("dup_clusters")
      .resolve("labels2").toString
    Dedup.dupClusters(spark, pairs, out).count()
    assert(spark.sharedState.cacheManager.isEmpty,
      "dupClusters must unpersist every frame it persisted")
  }

  test("the fixpoint runs under the caller's shuffle width and leaves " +
      "the session conf as it found it") {
    import spark.implicits._
    val seen = spark.sparkContext.collectionAccumulator[Int]("task-width")
    // records the shuffle width each fixpoint task runs under
    val probe = udf { (id: Long) =>
      seen.add(SQLConf.get.numShufflePartitions); id }
    val src = tmpDir("dup_clusters_conf") + "/pairs"
    Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
      .write.parquet(src)
    val pairs = spark.read.parquet(src)
      .select(probe(col("doc_a")).as("doc_a"), col("doc_b"))
    val caller = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val before = spark.conf.getAll
    val out = tmpDir("dup_clusters_conf") + "/labels"
    Dedup.dupClusters(spark, pairs, out).count()
    assert(!seen.isZero, "the probe never ran inside the fixpoint")
    assert(seen.value.asScala.toSet == Set(caller))
    assert(spark.conf.getAll == before)
  }
}
