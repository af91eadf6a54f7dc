package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryPack, Tables => T}
import graft.functions.TextFunctions._

/** Deduplication operators over the `documents` table (north-star surface;
  * the reference moves bytes and has no dedup — SURVEY.md §2.2).
  *
  * Algorithms: MinHash resemblance sketches (Broder, "On the resemblance
  * and containment of documents", 1997) with banded LSH (Indyk–Motwani
  * locality-sensitive hashing family; banding per Leskovec–Rajaraman–Ullman,
  * Mining of Massive Datasets ch. 3); SimHash (Charikar, "Similarity
  * estimation techniques from rounding algorithms", STOC 2002) as used for
  * web-scale near-dup detection (Manku–Jain–Sarma, WWW 2007).
  *
  * Scale design (100 TB): every method is expressed as
  * explode → shuffle-on-feature → pair aggregation, never a cross join.
  *  - exact: groupBy(key) with a deterministic keeper (min doc_id);
  *  - n-gram Jaccard: single-pass bucketed inverted index (shingle-hash →
  *    sorted member list → in-bucket pair generation), integer threshold
  *    arithmetic (`2*inter >= union`) so the oracle matches bit-for-bit
  *    with no FP division;
  *  - MinHash-LSH: 64-lane signature computed in ONE pass over the inverted
  *    index (custom TypedImperativeAggregate, map-side combinable), banded
  *    32×2 (recall ≥ 0.9999 at the 0.5 threshold) → bucket join produces
  *    candidates, exact-Jaccard verification joins only the candidates;
  *  - SimHash: 64-bit signature via per-bit majority vote (one-pass custom
  *    aggregate), Manku-style 4 tables × 16 bits (pigeonhole: any pair with
  *    hamming ≤ 3 shares a table key), exact hamming filter.
  */
object Dedup extends QueryPack {

  private val NGRAM = 3
  private[graft] val ChunkW = 8 // d09/d11 chunk window (tokens per chunk)
  private val RunW = 6 // d10 substring-run length (tokens; Lee et al. use 50 at web scale — 6 matches the fixture's shared-run scale, cf. t06)
  private val IncrSplit = 10 // d11: sources below = at-rest corpus, rest = new batch

  /** md5 per non-overlapping ChunkW-token chunk (the d09/d11 dedup unit).
    * The nch > 0 guard matters: sequence(0, -1) generates the DESCENDING
    * sequence [0, -1] in Spark, which would emit two spurious md5("")
    * chunks for an empty token array rather than none.
    * (private[graft]: the streaming chunk-dedup twin chunks identically.)
    */
  private[graft] def chunkHashes: org.apache.spark.sql.Column = {
    val t = tokens(col("text"))
    val nch = ceil(size(t) / lit(ChunkW.toDouble)).cast("int")
    when(nch > 0,
      transform(sequence(lit(0), nch - 1),
        i => md5(concat_ws(" ", slice(t, i * ChunkW + 1, lit(ChunkW))))))
      .otherwise(array().cast("array<string>"))
  }

  /** The chunk TEXTS behind [[chunkHashes]] (same tokenization, same
    * geometry, same order — `chunkHashes(i) == md5(chunkTexts(i))` by
    * construction). d13 carries these to reassemble the cleaned document
    * after keeper selection; the hot keeper shuffle itself still moves
    * only the 16-byte hashes.
    */
  private[graft] def chunkTexts: org.apache.spark.sql.Column = {
    val t = tokens(col("text"))
    val nch = ceil(size(t) / lit(ChunkW.toDouble)).cast("int")
    when(nch > 0,
      transform(sequence(lit(0), nch - 1),
        i => concat_ws(" ", slice(t, i * ChunkW + 1, lit(ChunkW)))))
      .otherwise(array().cast("array<string>"))
  }
  private val MINHASH_K = 64 // 32 bands × 2 rows
  private val BANDS = 32

  /** (doc_id, shingle-hash) inverted-index rows, deduplicated per document.
    * Shingles live only as 64-bit hashes (TextFunctions.shingleHashes) — the
    * explode, the shuffle, and every join key are 8-byte longs, never
    * n-gram strings.
    */
  private def shingleIndex(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // tokenize+shingle is the expensive per-row step — run it wide even
    // when the scan arrives in one split (T.spread, guide §2.5)
    T.spread(docs, col("doc_id")).select(col("doc_id"),
      explode(distinctShingleHashes(col("text"), NGRAM)).as("h"))
  }

  /** Exact-Jaccard near-dup pairs at threshold 0.5 over 3-gram shingles. */
  private def jaccardPairs(s: SparkSession, d: String): DataFrame =
    jaccardPairsOf(T.documents(s, d))

  /** The exact pair set materialized once per bench session (writeOnce;
    * Verify regenerates it on every run) — INPUT PREP shared by the
    * cluster-family queries: d08/d15 and p12 consume the pairs, their
    * operators are the fixpoint / fold / split that follow. d03 is the
    * pair-generation operator itself and always runs live. Without the
    * side-file, every timed rep of every consumer re-ran the shared
    * exact-Jaccard stage — round 12 measured the elision at 3× on d15's
    * 64× stress number. */
  private[graft] def pairsSideFile(s: SparkSession, d: String): DataFrame = {
    val path = Formats.ioDir(d, "d15_pairs")
    Formats.writeOnce(s, path) {
      jaccardPairs(s, d).select(col("doc_a"), col("doc_b"))
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
  }

  /** Exhaustive pairs via ONE tokenization pass and TWO shuffles: explode
    * the inverted index carrying each doc's set size, group by shingle hash
    * into a sorted member list, emit in-bucket pairs with a two-level
    * Generate (posexplode × slice — per-row memory stays O(bucket), never
    * the O(bucket²) a flattened pair array would hold), then count
    * co-occurrences per pair. The carried sizes make the Jaccard filter a
    * pure projection — no size-lookup joins, no re-tokenization branches.
    * (The previous self-join formulation tokenized every document four
    * times: two join branches + two size branches.)
    *
    * Scale note: a bucket of k docs costs O(k²) emitted pairs — inherent to
    * the exact semantics (d03 IS the oracle; d04's capped LSH is the scale
    * path). The collect_list buffer is O(hottest bucket) per shingle.
    */
  private[graft] def jaccardPairsOf(docs: DataFrame): DataFrame =
    coOccurrencePairs(docs)
      .withColumn("union_sz", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * 2 >= col("union_sz"))
      .select(col("doc_a"), col("doc_b"), col("inter"), col("union_sz"))

  /** The bucketed pair machinery itself, shared by d03's symmetric Jaccard
    * and d12's asymmetric containment — each applies its own threshold as
    * a pure projection over (doc_a, doc_b, inter, na, nb).
    */
  private[graft] def coOccurrencePairs(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // tokenize wide (T.spread, §2.5) …
    val arrs = T.spread(docs, col("doc_id")).select(col("doc_id"),
      distinctShingleHashes(col("text"), NGRAM).as("sh"))
    // … and pin the bucket exchange at T.width: the groupBy below reuses
    // this clustering and the in-bucket pair Generate runs that wide
    val idx = arrs.select(col("doc_id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("h"))
      .repartition(T.width(docs, expand = 2.0), col("h"))
    val buckets = idx.groupBy(col("h"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n_sh"))))
        .as("ms"))
      .filter(size(col("ms")) > 1)
    buckets
      .select(col("ms"), posexplode(col("ms")).as(Seq("i", "a")))
      .select(col("a"),
        explode(slice(col("ms"), col("i") + lit(2),
          size(col("ms")) - col("i") - lit(1))).as("b"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .agg(count(lit(1)).as("inter"))
  }

  /** MinHash signature: ONE pass over the inverted index via the custom
    * TypedImperativeAggregate (k lanes derived from two base hashes per
    * row; map-side combinable fixed-size buffer — no k× expression evals,
    * no k× row blowup).
    */
  private def minhashSignatures(idx: DataFrame): DataFrame =
    idx.groupBy(col("doc_id"))
      .agg(call_function("graft_minhash", col("h")).as("sig"))

  /** Corpus-scale guard for ALL banded-LSH candidate generation here: a
    * band bucket of B members contributes C(B,2) candidate pairs, so one
    * pathological bucket (boilerplate shingles, near-constant signatures —
    * SCALE.md's known failure mode) re-introduces the quadratic blowup LSH
    * exists to avoid. Buckets wider than `maxBucket` are dropped entirely:
    * the lost recall is bounded (members of a 10k-wide bucket are far more
    * likely boilerplate collisions than near-dups, and true near-dups still
    * meet in their OTHER bands), while the saved work is O(B²). The hot
    * list has ≤ n/maxBucket entries, so broadcasting it is always safe.
    *
    * Groups `banded` exactly as given. Callers that pin the bucket-key
    * exchange repartition by `keys` at [[T.width]] first, so the hot
    * aggregate here and the bucket joins downstream reuse one clustering;
    * d14's per-batch arms pass theirs unpinned: for a bounded batch the
    * extra exchange cost more than the width bought (measured d14
    * 1.0 -> 1.3 s).
    */
  private[operators] val DefaultMaxBucket = 10000

  private[operators] def capBuckets(banded: DataFrame, keys: Seq[String],
      maxBucket: Int): DataFrame = {
    val hot = banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > maxBucket)
      .select(keys.map(col): _*)
    banded.join(broadcast(hot), keys, "left_anti")
  }

  /** Banded signature rows (doc_id, band, bh) — the LSH bucket keys.
    * Shared by d04's self-join candidate path and d14's at-rest index
    * (history docs banded ONCE at index-build time, batches banded on
    * arrival; both sides meet on the same (band, bh) key).
    */
  private def bandRows(sig: DataFrame): DataFrame = {
    val r = MINHASH_K / BANDS
    val bandHashes = (0 until BANDS).map { b =>
      xxhash64((b * r until (b + 1) * r).map(i => col("sig").getItem(i)): _*)
    }
    sig.select(col("doc_id"),
      posexplode(array(bandHashes: _*)).as(Seq("band", "bh")))
  }

  /** LSH candidate pairs: band the signature, bucket-join per band. */
  private def lshCandidates(sig: DataFrame,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val banded = bandRows(sig)
    lshCandidatesFrom(capBuckets(
      banded.repartition(T.width(banded), col("band"), col("bh")),
      Seq("band", "bh"), maxBucket))
  }

  /** The bucket self-join over ALREADY-CAPPED banded rows — value-shared
    * by callers that also probe the same banded rows elsewhere (d14). */
  private def lshCandidatesFrom(banded: DataFrame): DataFrame = {
    val l = banded.select(col("band"), col("bh"), col("doc_id").as("doc_a"))
    val rgt = banded.select(col("band"), col("bh"), col("doc_id").as("doc_b"))
    l.join(rgt, Seq("band", "bh"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** Banded signature rows for a documents frame — what d14 persists as
    * the at-rest side of the near-dup ingest index.
    */
  private[graft] def bandIndexOf(docs: DataFrame): DataFrame =
    bandRows(minhashSignatures(shingleIndex(docs)))

  /** Sorted distinct shingle-hash sets per document — the exact-Jaccard
    * verification side (8-byte hashes, never n-gram text).
    */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame =
    T.spread(docs, col("doc_id")).select(col("doc_id"),
      array_sort(distinctShingleHashes(col("text"), NGRAM)).as("sh"))

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs against
    * their shingle sets; emits only true near-dups at the 0.5 threshold
    * with their exact inter/union statistics.
    */
  private def exactVerify(cands: DataFrame, aSh: DataFrame,
      bSh: DataFrame): DataFrame = cands
    .join(aSh.select(col("doc_id").as("doc_a"), col("sh").as("sa")),
      Seq("doc_a"))
    .join(bSh.select(col("doc_id").as("doc_b"), col("sh").as("sb")),
      Seq("doc_b"))
    .withColumn("inter",
      size(array_intersect(col("sa"), col("sb"))).cast("long"))
    .withColumn("union_sz",
      (size(col("sa")) + size(col("sb"))).cast("long") - col("inter"))
    .filter(col("inter") * 2 >= col("union_sz"))
    .select(col("doc_a"), col("doc_b"), col("inter"), col("union_sz"))

  /** d14's history probe over ONE arriving batch of documents (doc_id,
    * text) against the at-rest index (banded signature rows + shingle
    * sets): candidates come only from (band, bh) equi-joins, every
    * candidate is exact-verified. Stateless per batch — signatures
    * aggregate within the batch, history is only read — which is what
    * makes it double as the STREAMING ingest kernel (foreachBatch over
    * an arriving stream, StreamingNearDupSpec): each micro-batch probes
    * the same static index with exact batch semantics.
    */
  private[graft] def indexProbePairs(batch: DataFrame, hBands: DataFrame,
      hSh: DataFrame): DataFrame = {
    val banded = bandRows(minhashSignatures(shingleIndex(batch)))
    indexProbePairsFrom(
      capBuckets(banded.repartition(T.width(banded), col("band"), col("bh")),
        Seq("band", "bh"), DefaultMaxBucket),
      shinglesOf(batch), hBands, hSh)
  }

  /** [[indexProbePairs]] over PRE-BUILT batch-side banded rows + shingle
    * sets, so a caller with several probe arms (d14: history probe AND
    * batch self-join) can pass the same frames to each — identical
    * subtrees with identical expression IDs let ReuseExchange evaluate
    * the batch signature aggregate once instead of per arm.
    */
  private[graft] def indexProbePairsFrom(bBands: DataFrame, bSh: DataFrame,
      hBands: DataFrame, hSh: DataFrame): DataFrame = {
    val cands = bBands
      // unpinned: at rest the history bands are bucketed by (band, bh)
      // (f08 layout) — zero-exchange by design; a pinned repartition
      // would reintroduce one per probe
      .join(capBuckets(hBands, Seq("band", "bh"), DefaultMaxBucket)
        .select(col("band"), col("bh"), col("doc_id").as("doc_b")),
        Seq("band", "bh"))
      .select(col("doc_id").as("doc_a"), col("doc_b")).distinct()
    exactVerify(cands, bSh, hSh)
  }

  /** MinHash-LSH near-dup pairs over an arbitrary documents frame —
    * the spec-facing entry (exercised with pathological hot buckets in
    * HotBucketSpec); d04 wires it at the default cap.
    */
  private[graft] def minhashLshPairs(docs: DataFrame,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val idx = shingleIndex(docs)
    val cands = lshCandidates(minhashSignatures(idx), maxBucket)
    val arrs = docs.select(col("doc_id"),
      array_sort(distinctShingleHashes(col("text"), NGRAM)).as("sh"))
    cands
      .join(arrs.select(col("doc_id").as("doc_a"), col("sh").as("sa")), Seq("doc_a"))
      .join(arrs.select(col("doc_id").as("doc_b"), col("sh").as("sb")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("union_sz", size(col("sa")) + size(col("sb")) - col("inter"))
      .filter(col("inter") * 2 >= col("union_sz"))
      .select(col("doc_a"), col("doc_b"))
  }

  /** SimHash near-dup candidate pairs (Manku 4×16-bit tables, hamming ≤ 3)
    * over an arbitrary documents frame; d05's verdict query and
    * HotBucketSpec both build on this.
    */
  private[graft] def simhashPairsOf(docs: DataFrame,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // the index IS the hash stream — no extra hashing step
    val idx = shingleIndex(docs)
    // one-pass 64-bit majority vote via the custom aggregate (replaces 64
    // sum(when(bit)) aggregate columns — same signature bit-for-bit)
    val sig = idx.groupBy(col("doc_id"))
      .agg(call_function("graft_simhash", col("h")).as("sim"))
    val chunks = sig.select(col("doc_id"), col("sim"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sim"), b * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("band", "chunk")))
    val banded = capBuckets(
      chunks.repartition(T.width(chunks), col("band"), col("chunk")),
      Seq("band", "chunk"), maxBucket)
    val l = banded.select(col("band"), col("chunk"),
      col("doc_id").as("doc_a"), col("sim").as("sim_a"))
    val r = banded.select(col("band"), col("chunk"),
      col("doc_id").as("doc_b"), col("sim").as("sim_b"))
    l.join(r, Seq("band", "chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .filter(col("hamming") <= 3) // before distinct: shrink the shuffle
      .select(col("doc_a"), col("doc_b"))
      .distinct()
  }

  /** Duplicate CLUSTERS from a near-dup pair stream: connected components
    * by min-label propagation to fixpoint (each round: one equi-join on
    * the edge list + a min aggregation — the simplified form of
    * Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014). Rounds needed = component diameter; near-dup clusters
    * are near-cliques (diameter 1–2), so convergence is a handful of
    * shuffles even at corpus scale. The driver loop only reads the
    * convergence COUNT per round (an aggregate — never row data), and
    * each round's labels are persisted so lineage stays flat.
    *
    * Cache lifetime: every persist made here is unpersisted before
    * return. The final labels are materialized to `out` (a plain
    * parquet side-file — written on EVERY invocation, deliberately NOT
    * `writeOnce`-elided, because the fixpoint loop is the operator
    * under test and must run in each bench rep) and the returned frame
    * reads from that file, so nothing this function computed survives
    * in the shared CacheManager (the round-9/10 anomaly mechanism,
    * SCALE.md). Labels are one (id, comp) pair per doc that appears in
    * a near-dup pair — a small fraction of the corpus even at 100 TB,
    * and the write is a narrow two-column dump.
    */
  private[graft] def dupClusters(s: SparkSession, pairs: DataFrame,
      out: String): DataFrame = {
    // Every exchange of the fixpoint is an explicit repartition at
    // T.width, one per join or aggregate input. Where an input's clustering
    // is already known (a materialized cached frame) the repartition plans
    // as a no-op; where it is not, it shuffles to w, so the planner never
    // raises both sides of a join to the caller's shuffle width — which it
    // does whenever one side needs an exchange and w is below that width.
    val w = T.width(pairs)
    def by(df: DataFrame, key: String) = df.repartition(w, col(key))
    val edges = by(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))),
      "src").persist()
    var labels = by(edges.select(col("src").as("id")), "id").distinct()
      .withColumn("comp", col("id")).persist()
    var converged = false
    var rounds = 0
    var cached = labels // the persisted handle the projection below rides on
    while (!converged && rounds < 50) {
      val nbrMin = by(by(edges, "src")
        .join(by(labels.select(col("id").as("src"), col("comp").as("nc")),
          "src"), Seq("src")), "dst")
        .groupBy(col("dst")).agg(min(col("nc")).as("nbc"))
        .select(col("dst").as("id"), col("nbc"))
      // carry the change flag IN the round's own frame: the former
      // convergence check re-joined `next` against `labels` on id — a
      // whole extra shuffle join per round whose only output was a
      // count. `changed` ⇔ a strictly smaller neighbor label arrived,
      // so the flag is a projection of the same join (guide §2.4:
      // remove shuffles outright).
      val next = by(labels, "id").join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nbc"), col("comp"))).as("comp"),
          coalesce(col("nbc") < col("comp"), lit(false)).as("changed"))
        .persist()
      val changes = next.filter(col("changed")).count()
      cached.unpersist()
      cached = next
      labels = next.select(col("id"), col("comp"))
      converged = changes == 0
      rounds += 1
    }
    edges.unpersist()
    require(converged, s"dupClusters: no fixpoint after $rounds rounds")
    labels.write.mode("overwrite").parquet(out)
    cached.unpersist()
    s.read.parquet(out)
  }

  /** Incremental maintenance of the duplicate-cluster labels (the d11/d14/
    * s13 at-rest ingest posture, applied to connected components): the
    * historical labels live in a parquet side-file; a new batch of
    * near-dup PAIRS updates them WITHOUT rescanning or re-pairing the
    * historical graph.
    *
    * Mechanics: (1) delta-touched nodes pull their old label (left join
    * against the at-rest table — an equi-join, not a graph walk);
    * (2) every labeled node gets a virtual STAR edge to its old component
    * rep, so two delta nodes of the same old component are connected
    * through the rep without materializing any historical edge;
    * (3) min-label propagation runs over the SMALL augmented delta graph
    * only (O(delta-diameter) rounds); (4) the at-rest table is updated by
    * one rep-level equi-join (`comp -> new comp`) — a component merged by
    * a delta bridge relabels ALL its members, including ones no delta
    * edge touched, because old reps are nodes of the augmented graph.
    * Labels stay canonical (comp = min id of the merged component: old
    * reps are their components' minima, and propagation takes the min
    * over reps ∪ new nodes). Result ≡ full recompute over history ∪
    * delta — which is exactly what the oracle replays.
    */
  private[graft] def incrementalClusters(s: SparkSession, hist: DataFrame,
      delta: DataFrame, out: String): DataFrame = {
    Formats.writeOnce(s, out) { dupClusters(s, hist, out).count(); () }
    foldDelta(s, s.read.parquet(out), delta, out + "_delta")
  }

  /** One incremental fold: existing `labels` (id, comp) + a `delta` pair
    * batch → updated labels (see [[incrementalClusters]] for the
    * mechanics). Factored out so a STREAMING maintainer can apply it per
    * micro-batch in `foreachBatch` (StreamingClustersSpec) — the same
    * fold, the same rep-level join, state living wherever the caller
    * keeps the label table.
    */
  private[graft] def foldDelta(s: SparkSession, labels: DataFrame,
      delta: DataFrame, scratch: String): DataFrame = {
    val nodes = delta.select(col("doc_a").as("id"))
      .union(delta.select(col("doc_b").as("id"))).distinct()
    val init = nodes.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
    val starEdges = init.filter(col("comp") =!= col("id"))
      .select(col("id").as("doc_a"), col("comp").as("doc_b"))
    val aug = delta.select(col("doc_a"), col("doc_b")).union(starEdges)
    val newLabels = dupClusters(s, aug, scratch)
    // rep-level relabel map applied to the at-rest table: rows keyed by an
    // old rep that moved pick up its new label; everything else keeps its
    // label. Newcomers (nodes absent from the at-rest table) append.
    val repMap = newLabels.select(col("id").as("comp"), col("comp").as("newc"))
    val updated = labels.join(repMap, Seq("comp"), "left")
      .select(col("id"), coalesce(col("newc"), col("comp")).as("comp"))
    val newcomers = newLabels.join(labels, Seq("id"), "left_anti")
      .select(col("id"), col("comp"))
    updated.union(newcomers)
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup with deterministic keeper: one surviving doc_id per
    // (lang, source) group. `dropDuplicates` keeps an arbitrary row; min()
    // is the reproducible (and oracle-checkable) formulation.
    "d01_dedup_exact" -> ((s, d) => {
      T.documents(s, d)
        .groupBy(col("lang"), col("source"))
        .agg(min(col("doc_id")).as("keeper_doc_id"),
             count(lit(1)).as("n_rows"))
        .orderBy(col("lang"), col("source"))
    }),
    // Skew-safe salted two-phase aggregation: identical results to a
    // direct groupBy (the oracle is the direct formulation) but the first
    // shuffle spreads each hot key over 16 salt buckets — the pattern for
    // aggregation keys with pathological skew at corpus scale.
    "d07_salted_agg" -> ((s, d) => {
      T.documents(s, d)
        .withColumn("salt", pmod(xxhash64(col("doc_id")), lit(16)))
        .groupBy(col("lang"), col("salt"))
        .agg(count(lit(1)).as("pn"), sum(col("n_chars")).as("ps"))
        .groupBy(col("lang"))
        .agg(sum(col("pn")).as("n_docs"), sum(col("ps")).as("sum_chars"))
        .orderBy(col("lang"))
    }),
    // Exact content dedup on the normalized md5 fingerprint.
    "d02_dedup_fingerprint" -> ((s, d) => {
      T.documents(s, d)
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_rows"))
        .orderBy(col("keeper_doc_id"))
    }),
    // Exact n-gram Jaccard near-dup pairs (threshold 0.5, integer compare).
    "d03_ngram_jaccard_pairs" -> ((s, d) =>
      jaccardPairs(s, d).orderBy(col("doc_a"), col("doc_b"))),
    // Incremental cluster maintenance: historical labels at rest, a delta
    // pair batch (deterministic split of the exact pair set) folded in via
    // star-edge propagation + one rep-level relabel join — history is
    // never re-paired or re-walked. Oracle: full recursive-CTE closure
    // over ALL pairs; equality proves the incremental path converges to
    // the same canonical labels the batch recompute would produce.
    //
    // The exact pair set is input PREP, not the operator under test, and
    // it is writeOnce-materialized to a side-file: without this, every
    // bench rep recomputed jaccardPairs inside the delta arm — and the
    // augmented-graph union lineage recomputes it several times per
    // fixpoint materialization, which is what the round-11 13.4 s reps
    // were measuring (the 4.45 s min rep hit a shuffle-reuse path). With
    // the side-file, a timed rep is: pair-parquet read → split → fold →
    // rep-level relabel — the incremental maintenance cost itself.
    "d15_incremental_clusters" -> ((s, d) => {
      val jp = pairsSideFile(s, d)
      val hist = jp.filter(pmod(col("doc_a"), lit(3)) =!= 0)
      val delta = jp.filter(pmod(col("doc_a"), lit(3)) === 0)
      incrementalClusters(s, hist, delta, Formats.ioDir(d, "d15_labels"))
        .groupBy(col("comp"))
        .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_doc_id"))
        .select(col("comp").as("keeper_doc_id"), col("n_members"),
          col("max_doc_id"))
        .orderBy(col("keeper_doc_id"))
    }),
    // Near-dup pairs → duplicate CLUSTERS (connected components): one
    // keeper (= min doc_id in the component) per cluster, with member
    // count and max id — the step that turns pairwise dedup output into
    // the keep/drop decision. Oracle: DuckDB recursive-CTE transitive
    // closure over the same exact-Jaccard pair set.
    "d08_dup_clusters" -> ((s, d) => {
      val pairs = pairsSideFile(s, d)
      dupClusters(s, pairs, Formats.ioDir(d, "d08_labels"))
        .groupBy(col("comp"))
        .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_doc_id"))
        .select(col("comp").as("keeper_doc_id"), col("n_members"),
          col("max_doc_id"))
        .orderBy(col("keeper_doc_id"))
    }),
    // End-to-end dedup pipeline, production order (see SCALE.md): exact
    // fingerprint dedup FIRST (collapses byte-identical clusters that make
    // exhaustive pairing quadratic), THEN near-dup pairing among the
    // surviving keepers only.
    "d06_dedup_pipeline" -> ((s, d) => {
      // spread before the fingerprint window: the md5-per-row projection
      // otherwise runs inside the single-split scan stage (§2.5)
      val docs = T.spread(T.documents(s, d), col("doc_id"))
      // keeper = min doc_id per fingerprint, selected with ONE shuffle of
      // the document rows (window on fp) — the groupBy-then-join
      // formulation moved every row twice (fp aggregation + doc_id join)
      val byFp = org.apache.spark.sql.expressions.Window
        .partitionBy(fingerprint(col("text"))).orderBy(col("doc_id"))
      val survivors = docs
        .withColumn("rn", row_number().over(byFp))
        .filter(col("rn") === 1).drop("rn")
      jaccardPairsOf(survivors)
        .select(col("doc_a"), col("doc_b"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),
    // MinHash-LSH: candidates from banded signatures, then exact-Jaccard
    // verification of ONLY the candidates — false positives cost only
    // verification work, so banding is tuned for recall AT the threshold:
    // with 32 bands of 2 rows, candidate recall is 1-(1-s^2)^32, i.e.
    // ≥ 0.99990 at the s=0.5 threshold itself (16×4 banding would be only
    // ~0.64 there). Verified output therefore equals the exhaustive d03
    // pair set — the oracle we declare. The win is scale: LSH joins on
    // band buckets instead of the full inverted index.
    "d04_minhash_lsh_pairs" -> ((s, d) =>
      minhashLshPairs(T.documents(s, d)).orderBy(col("doc_a"), col("doc_b"))),
    // SimHash near-dup detection, the Manku–Jain–Sarma (WWW 2007) design:
    // 64-bit signatures, 4 tables of 16 bits (pigeonhole: any pair at
    // hamming ≤ 3 shares a table key), exact hamming ≤ 3 confirmation.
    // 16-bit keys give 65536 buckets per table — measured essential at
    // scale: a 4-bit-chunk variant (16 buckets/band) put ~n/16 docs in
    // every bucket and went quadratic at 80k docs (235 s vs 3 s).
    //
    // The pair set itself is engine-specific (depends on xxhash64), so the
    // driver-checked output is a VERDICT row over engine-agnostic
    // properties (the q24 pattern), each independently recomputed by the
    // DuckDB oracle:
    //  - n_jaccard_pairs: |exact Jaccard≥0.5 pair set| (oracle recomputes);
    //  - n_exact_dup_pairs: pairs of byte-identical (canonical-fingerprint)
    //    documents (oracle recomputes);
    //  - n_outside_jaccard = 0: hamming ≤ 3 of 64 is a STRICTER criterion
    //    than Jaccard ≥ 0.5 on this corpus — every simhash pair must be in
    //    the exact Jaccard pair set (measured: 13/28, 11/25, 136/256
    //    contained at sf0.001/0.01/0.1);
    //  - n_exact_missed = 0: identical documents have identical signatures
    //    (hamming 0), so simhash must find every exact-dup pair.
    // The raw pair stream is `simhashPairsOf` for library use.
    // One full-outer merge of the three pair sets, then a single aggregate
    // over membership flags — each expensive subtree (simhash self-join,
    // exhaustive Jaccard, fingerprint self-join) is evaluated ONCE, where
    // the verdict-per-crossJoin-branch formulation re-evaluated jac and
    // exact twice each.
    "d05_simhash_pairs" -> ((s, d) => {
      val docs = T.documents(s, d)
      val sim = simhashPairsOf(docs).withColumn("in_s", lit(1))
      val jac = jaccardPairsOf(docs)
        .select(col("doc_a"), col("doc_b")).withColumn("in_j", lit(1))
      val fp = docs.select(col("doc_id"), fingerprint(col("text")).as("f"))
      val exact = fp.select(col("doc_id").as("doc_a"), col("f"))
        .join(fp.select(col("doc_id").as("doc_b"), col("f")), Seq("f"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b")).withColumn("in_e", lit(1))
      jac.join(sim, Seq("doc_a", "doc_b"), "full_outer")
        .join(exact, Seq("doc_a", "doc_b"), "full_outer")
        .agg(count(col("in_e")).as("n_exact_dup_pairs"),
          count(col("in_j")).as("n_jaccard_pairs"),
          count(when(col("in_s").isNotNull && col("in_j").isNull, lit(1)))
            .as("n_outside_jaccard"),
          count(when(col("in_e").isNotNull && col("in_s").isNull, lit(1)))
            .as("n_exact_missed"))
    }),
    // Incremental chunk dedup — the production INGEST shape: a reference
    // corpus already at rest has its chunk-hash index persisted ONCE
    // (Formats.writeOnce, the s07 pattern: a bench session builds the
    // index once and probes it repeatedly; Verify always rewrites), and
    // each arriving batch is deduplicated against that index plus itself
    // (first occurrence in (doc_id, idx) order wins) WITHOUT touching the
    // historical corpus again. The membership join is an equi-join on the
    // 16-byte chunk md5 — hash-partitioned, never a broadcast (the index
    // is corpus-scale at 100 TB; there it would be bucketed by hash, the
    // f08 layout, for zero-exchange membership joins). Fixture split:
    // sources 0..9 are the at-rest corpus, 10+ the new batch.
    "d11_incremental_chunks" -> ((s, d) => {
      val docs = T.documents(s, d)
      val srcNum = substring(col("source"), 4, 10).cast("int")
      val idxPath =
        s"/tmp/graft_io/${d.replaceAll("[^A-Za-z0-9]", "_")}/d11_chunk_index"
      Formats.writeOnce(s, idxPath) {
        docs.filter(srcNum < IncrSplit)
          .select(explode(chunkHashes).as("h")).distinct()
          .write.mode("overwrite").parquet(idxPath)
      }
      val idx = s.read.parquet(idxPath).withColumn("in_idx", lit(1))
      val byH = org.apache.spark.sql.expressions.Window
        .partitionBy(col("h")).orderBy(col("doc_id"), col("idx"))
      T.spread(docs.filter(srcNum >= IncrSplit), col("doc_id"))
        .select(col("doc_id"), posexplode(chunkHashes).as(Seq("idx", "h")))
        .withColumn("rn", row_number().over(byH))
        .join(idx, Seq("h"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("in_idx").isNotNull, 1L).otherwise(0L))
            .as("n_known"),
          sum(when(col("in_idx").isNull && col("rn") > 1, 1L).otherwise(0L))
            .as("n_batch_dup"),
          sum(when(col("in_idx").isNull && col("rn") === 1, 1L)
            .otherwise(0L)).as("n_kept"))
        .orderBy(col("doc_id"))
    }),

    // Incremental NEAR-dup ingest (d14): d11's ingest shape applied to
    // MinHash-LSH. The at-rest corpus persists two artifacts once
    // (writeOnce): its banded signature rows — the LSH bucket keys — and
    // its sorted shingle-hash sets (verification sides; 8-byte hashes,
    // never text). An arriving batch computes its OWN signatures, meets
    // history only through (band, bh) equi-joins against the index, and
    // every candidate — batch×history and batch×batch alike — is
    // exact-verified by true Jaccard before being reported, so the output
    // is exact pairs (the d04 posture; banding recall at the 0.5
    // threshold is 1-(1-s²)^32). History is never re-banded, never
    // re-paired against itself, and its shingle sets are touched only for
    // candidate doc_ids: per-batch work is proportional to the batch and
    // its bounded candidate set, not the corpus. At 100 TB both at-rest
    // tables are bucketed by their join key (bands by (band, bh),
    // shingles by doc_id — the f08 layout), making the index side of
    // every join zero-exchange. Both candidate paths run through the
    // hot-bucket cap (boilerplate-band guard, same bound as d04).
    "d14_incremental_minhash" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val docs = T.documents(s, d)
      val srcNum = substring(col("source"), 4, 10).cast("int")
      val base = s"/tmp/graft_io/${d.replaceAll("[^A-Za-z0-9]", "_")}"
      val bandsPath = s"$base/d14_minhash_bands"
      Formats.writeOnce(s, bandsPath) {
        bandIndexOf(docs.filter(srcNum < IncrSplit))
          .write.mode("overwrite").parquet(bandsPath)
      }
      val shPath = s"$base/d14_minhash_shingles"
      Formats.writeOnce(s, shPath) {
        shinglesOf(docs.filter(srcNum < IncrSplit))
          .write.mode("overwrite").parquet(shPath)
      }
      val batch = docs.filter(srcNum >= IncrSplit)
      // ONE banded-signature frame and ONE shingle frame feed BOTH probe
      // arms (history equi-join and batch self-join) — previously each
      // arm rebuilt the batch signature aggregate and shingle sets from
      // scratch (distinct expression IDs defeat subtree reuse); sharing
      // the values lets ReuseExchange compute them once (r21, the d04
      // "cands taken as a value" pattern).
      val bSig = minhashSignatures(shingleIndex(batch))
      val bBands = capBuckets(bandRows(bSig), Seq("band", "bh"),
        DefaultMaxBucket)
      val bSh = shinglesOf(batch)
      val hist = indexProbePairsFrom(bBands, bSh,
        s.read.parquet(bandsPath), s.read.parquet(shPath))
      val bb = exactVerify(lshCandidatesFrom(bBands), bSh, bSh)
      hist.withColumn("vs", lit("history"))
        .unionByName(bb.withColumn("vs", lit("batch")))
        .orderBy(col("doc_a"), col("doc_b"))
    }),
    // Exact substring-run coverage — the per-document statistic behind
    // ExactSubstr dedup (Lee et al., "Deduplicating Training Data Makes
    // Language Models Better", ACL 2022): how many of a document's tokens
    // are covered by a token run of length ≥ RUN_W that occurs at least
    // twice in the corpus (any position, any document — including this
    // one). Windows travel as 8-byte shingle hashes (stride-1, native
    // TokenShingleHashes); repeated hashes are found by ONE count
    // aggregation on the hash; coverage is the union of the surviving
    // [pos, pos+W) intervals per doc, computed with a single lead()
    // window — interval union over SORTED starts needs only the next
    // start (min(W, next-pos) covered per window). Downstream, spans with
    // high coverage are cut (Lee et al.) or docs above a coverage ratio
    // dropped; both are projections over this output.
    // Collision posture: windows are compared by 64-bit xxhash64, so at
    // ~10^12 corpus-wide windows (100 TB) birthday collisions mark a few
    // unique windows as repeated — a one-sided, tiny coverage
    // OVERestimate (conservative for a drop/cut gate). Unlike the
    // within-document sketches this is a corpus-wide key space; widen to
    // a 128-bit key (two independent seeds) if exactness matters at scale.
    "d10_substr_coverage" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val docs = T.documents(s, d)
      val hs = T.spread(docs, col("doc_id")).select(col("doc_id"),
        posexplode(shingleHashes(col("text"), RunW)).as(Seq("pos", "h")))
      // hashes occurring ≥ 2 times corpus-wide: hash-partitioned count,
      // NOT a broadcast (at 100 TB the repeated-gram set is corpus-scale)
      val dup = hs.groupBy(col("h")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select(col("h"))
      val byDoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("pos"))
      val cov = hs.join(dup, Seq("h"))
        .withColumn("nxt", lead(col("pos"), 1).over(byDoc))
        .withColumn("covered",
          when(col("nxt").isNull, lit(RunW.toLong))
            .otherwise(least(lit(RunW.toLong), (col("nxt") - col("pos"))
              .cast("long"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_dup_windows"),
          sum(col("covered")).as("n_dup_tokens"))
      // full_outer, not left: cov's doc_ids are a subset of docs' by
      // construction, so the result is identical — but a left join with a
      // unique right side is ELIMINATED under a count() action (the bench
      // driver's), which would silently skip the whole coverage subtree
      // and report the scan floor as this operator's cost
      docs.select(col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
        .join(cov, Seq("doc_id"), "full_outer")
        .na.fill(0L, Seq("n_dup_windows", "n_dup_tokens"))
        .orderBy(col("doc_id"))
    }),
    // Chunk-level exact dedup — the CCNet/RefinedWeb "paragraph dedup"
    // stage (Wenzek et al., CCNet, LREC 2020) adapted to the fixture's
    // unstructured text: the dedup unit is a non-overlapping window of
    // CHUNK_W tokens instead of a newline-delimited paragraph. Each chunk
    // travels ONLY as its md5 (engine-agnostic, 16 bytes — the chunk
    // string dies inside the per-row projection); the first occurrence in
    // (doc_id, idx) order is the keeper, selected with ONE shuffle of
    // (doc_id, idx, h) triples (window on h). Per-document retention
    // counts are the signal a pipeline consumes: duplicated boilerplate
    // chunks are dropped without discarding the whole document.
    "d09_chunk_dedup" -> ((s, d) => {
      val chunks = T.spread(T.documents(s, d), col("doc_id"))
        .select(col("doc_id"), posexplode(chunkHashes).as(Seq("idx", "h")))
      val byH = org.apache.spark.sql.expressions.Window
        .partitionBy(col("h")).orderBy(col("doc_id"), col("idx"))
      chunks.withColumn("rn", row_number().over(byH))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dropped"))
        .orderBy(col("doc_id"))
    }),

    // Chunk dedup with TEXT RECONSTRUCTION (d13): d09 counts what chunk
    // dedup would remove; this emits the cleaned corpus itself — each
    // document rewritten with its corpus-wide-duplicated chunks removed
    // (first occurrence by (doc_id, idx) survives, the CCNet/C4
    // paragraph-dedup output shape). A document whose every chunk was
    // seen earlier disappears, exactly as it would from a shipped corpus.
    //
    // Plan shape: keeper selection is d09's ONE window shuffle over the
    // 16-byte chunk md5 — chunk TEXT never rides that exchange. Survivor
    // (doc_id, idx) pairs then join back to a second chunk-text scan on
    // the unique composite key, and reassembly is one groupBy(doc_id)
    // with an in-group sort by idx (array_sort over (idx, text) structs
    // — per-document state, no global sort). Output carries md5(clean
    // text) rather than the text so the row stays narrow at any scale;
    // a production rewrite would emit the text column itself from the
    // same plan.
    "d13_chunk_dedup_rewrite" -> ((s, d) => {
      val docs = T.documents(s, d)
      // r21: ONE tokenize+chunk pass — the hash stream derives from the
      // SAME exploded chunk texts (chunkHashes(i) == md5(chunkTexts(i))
      // by construction, pinned in the chunkTexts scaladoc) instead of
      // re-chunking the corpus a second time. The keeper window still
      // sees only (doc_id, idx, h) — the 16-byte-hash shuffle posture is
      // unchanged; the text rides only the (doc_id, idx) rejoin.
      val chunks = T.spread(docs, col("doc_id")).select(col("doc_id"),
        posexplode(chunkTexts).as(Seq("idx", "ctext")))
      val byH = org.apache.spark.sql.expressions.Window
        .partitionBy(col("h")).orderBy(col("doc_id"), col("idx"))
      val keep = chunks
        .select(col("doc_id"), col("idx"), md5(col("ctext")).as("h"))
        .withColumn("rn", row_number().over(byH))
        .filter(col("rn") === 1).select(col("doc_id"), col("idx"))
      chunks.join(keep, Seq("doc_id", "idx"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("idx"), col("ctext")))),
            c => c.getField("ctext")), " ")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // Asymmetric containment dedup (d12): overlap coefficient
    // inter/min(|A|,|B|) ≥ 0.8 catches EXCERPT relations — a short doc
    // whose shingles live almost entirely inside a longer one — which
    // symmetric Jaccard (d03) provably misses once the length ratio
    // passes ~2× (J = |A|/|B| < 0.5 for a perfect subset). Broder's
    // containment measure ('97, §2) is the quote/boilerplate-excerpt
    // detector in dedup pipelines. The fixture corpus has no natural
    // excerpts (its near-dup pairs are all whole-document), so the query
    // SYNTHESIZES them deterministically: each document's first
    // EXCERPT_TOK tokens become a pseudo-doc (id offset past max(doc_id),
    // a 1-row broadcast — replayed exactly by the oracle), and the
    // emitted pairs are those passing containment 0.8 but FAILING Jaccard
    // 0.5 — exactly the relation d03 cannot see. Same single-pass
    // bucketed machinery (coOccurrencePairs); both thresholds are integer
    // cross-multiplications.
    "d12_containment_pairs" -> ((s, d) => {
      val docs = T.documents(s, d).select(col("doc_id"), col("text"))
      val mx = docs.agg(max(col("doc_id")).as("mx"))
      val w = split(trim(col("text")), "\\s+")
      val excerpts = docs.crossJoin(broadcast(mx))
        .select((col("doc_id") + col("mx") + lit(1L)).as("doc_id"),
          concat_ws(" ", slice(w, 1, EXCERPT_TOK)).as("text"))
      coOccurrencePairs(docs.unionByName(excerpts))
        .withColumn("small_sz", least(col("na"), col("nb")))
        .filter(col("inter") * 10 >= col("small_sz") * 8 &&
          col("inter") * 2 < col("na") + col("nb") - col("inter"))
        .select(col("doc_a"), col("doc_b"), col("inter"), col("small_sz"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Intra-document repeated-span removal (d16): WITHIN each document,
    // every later occurrence of a RunW-token span that already appeared
    // earlier in the same document is removed (all tokens its window
    // covers), and the cleaned text is rebuilt — the within-doc
    // counterpart of d10's corpus-wide coverage metric and the "remove
    // repeated spans" step of RefinedWeb-style pipelines (Lee et al.
    // ACL'22 §4 measure intra-document duplication separately for exactly
    // this reason: templated pages repeat their own boilerplate).
    // Semantics are position-set based (a token survives iff no
    // non-first occurrence of any repeated span covers it), so there is
    // no greedy-order ambiguity and both engines replay it exactly;
    // token 0 is provably always kept.
    //
    // Scale shape: the span pass is ONE within-doc window (doc_id, h) —
    // the shuffle is keyed by document, never corpus-wide — and its
    // output folds to ONE small per-doc removal-position set (bounded by
    // intra-doc duplication mass). The corpus TOKENS never shuffle at
    // all: the doc-level removal sets join back on doc_id and the
    // surviving tokens are selected in-row by an indexed filter HOF, so
    // reconstruction is a map-side projection. (The first formulation
    // anti-joined an exploded token stream on (doc_id, pos) — a full
    // corpus-token shuffle that measured 4.9× on 4× data at the 64×
    // stress point; this doc-level form removes it.) No cross-document
    // state at all — the 100 TB version is the same plan.
    "d16_intradoc_dedup" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val docs = T.spread(T.documents(s, d), col("doc_id"))
      val occ = docs.select(col("doc_id"),
        posexplode(shingleHashes(col("text"), RunW)).as(Seq("pos", "h")))
      val byDocH = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"), col("h"))
      val removed = occ.withColumn("fp", min(col("pos")).over(byDocH))
        .filter(col("pos") > col("fp"))
        .select(col("doc_id"),
          explode(sequence(col("pos"), col("pos") + lit(RunW - 1)))
            .as("rp"))
        .groupBy(col("doc_id"))
        .agg(collect_set(col("rp")).as("rm"))
      docs.select(col("doc_id"), tokens(col("text")).as("w"))
        .join(removed, Seq("doc_id"), "left")
        .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
          filter(col("w"), (_, i) =>
            !coalesce(array_contains(col("rm"), i), lit(false))).as("kw"))
        .select(col("doc_id"), col("n_tokens"),
          size(col("kw")).cast("long").as("n_kept"),
          md5(array_join(col("kw"), " ")).as("clean_md5"))
        .orderBy(col("doc_id"))
    })
  )

  /** Excerpt length (tokens) for d12's synthesized containment fixtures. */
  private val EXCERPT_TOK = 12

  // private[operators]: p12's oracle replays the same pair set before
  // the transitive closure that assigns leakage-safe split lanes
  private[operators] val jaccardPairsSql = """
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        FROM documents),
      pos AS (
        SELECT doc_id, w, generate_subscripts(w, 1) AS i FROM toks),
      sh AS (
        SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        FROM pos WHERE i <= len(w) - 2),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1)
      SELECT doc_a, doc_b, inter, (na.n_sh + nb.n_sh - inter) AS union_sz
      FROM inter JOIN sz na ON doc_a = na.doc_id
                 JOIN sz nb ON doc_b = nb.doc_id
      WHERE 2 * inter >= na.n_sh + nb.n_sh - inter"""

  override def oracles: Map[String, String] = Map(
    "d01_dedup_exact" -> """
      SELECT lang, source, min(doc_id) AS keeper_doc_id, count(*) AS n_rows
      FROM documents GROUP BY lang, source ORDER BY lang, source""",
    "d07_salted_agg" -> """
      SELECT lang, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY lang ORDER BY lang""",
    "d02_dedup_fingerprint" -> """
      SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
             min(doc_id) AS keeper_doc_id, count(*) AS n_rows
      FROM documents GROUP BY 1 ORDER BY keeper_doc_id""",
    "d03_ngram_jaccard_pairs" ->
      (jaccardPairsSql + "\n      ORDER BY doc_a, doc_b"),
    "d06_dedup_pipeline" -> ("""
      WITH keepers AS (
        SELECT min(doc_id) AS doc_id
        FROM (SELECT doc_id,
                md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
              FROM documents)
        GROUP BY fp),
      survivors AS (
        SELECT d.* FROM documents d JOIN keepers USING (doc_id)),
      pairs AS (""" +
      jaccardPairsSql.replace("FROM documents", "FROM survivors") + """)
      SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b"""),
    "d04_minhash_lsh_pairs" -> ("""
      SELECT doc_a, doc_b FROM (""" + jaccardPairsSql + """)
      ORDER BY doc_a, doc_b"""),
    // transitive closure of the pair graph via recursive CTE, then
    // min-reachable-id per node = the component keeper
    "d08_dup_clusters" -> ("""
      WITH RECURSIVE jp AS (""" + jaccardPairsSql + """),
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM jp
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM jp),
      nodes AS (SELECT DISTINCT src AS id FROM edges),
      reach AS (
        SELECT id, id AS r FROM nodes
        UNION
        SELECT e.dst AS id, reach.r
        FROM reach JOIN edges e ON e.src = reach.id),
      comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
      SELECT comp AS keeper_doc_id, count(*) AS n_members,
             max(id) AS max_doc_id
      FROM comp GROUP BY comp ORDER BY keeper_doc_id"""),
    // d15 ≡ full closure over history ∪ delta = the d08 closure (the pair
    // set is the same, only the delivery is split) — incremental must be
    // indistinguishable from batch
    "d15_incremental_clusters" -> ("""
      WITH RECURSIVE jp AS (""" + jaccardPairsSql + """),
      edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM jp
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM jp),
      nodes AS (SELECT DISTINCT src AS id FROM edges),
      reach AS (
        SELECT id, id AS r FROM nodes
        UNION
        SELECT e.dst AS id, reach.r
        FROM reach JOIN edges e ON e.src = reach.id),
      comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
      SELECT comp AS keeper_doc_id, count(*) AS n_members,
             max(id) AS max_doc_id
      FROM comp GROUP BY comp ORDER BY keeper_doc_id"""),
    // d05 verdict row: the two counts are recomputed independently; the two
    // zeros are the containment properties the Spark side must prove.
    "d05_simhash_pairs" -> ("""
      WITH jp AS (""" + jaccardPairsSql + """),
      fpg AS (
        SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f,
               count(*) AS c
        FROM documents GROUP BY 1)
      SELECT (SELECT CAST(coalesce(sum(c * (c - 1) // 2), 0) AS BIGINT)
              FROM fpg) AS n_exact_dup_pairs,
             (SELECT count(*) FROM jp) AS n_jaccard_pairs,
             CAST(0 AS BIGINT) AS n_outside_jaccard,
             CAST(0 AS BIGINT) AS n_exact_missed"""),
    // d12: excerpt synthesis + both thresholds replayed literally on gram
    // strings (the d03 hash-vs-string equivalence posture)
    "d12_containment_pairs" -> s"""
      WITH mx AS (SELECT max(doc_id) AS mx FROM documents),
      toks0 AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents),
      docs2 AS (
        SELECT doc_id, w FROM toks0
        UNION ALL
        SELECT t.doc_id + mx.mx + 1, w[1:$EXCERPT_TOK] FROM toks0 t, mx),
      pos AS (
        SELECT doc_id, w, generate_subscripts(w, 1) AS i FROM docs2),
      sh AS (
        SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        FROM pos WHERE i <= len(w) - 2),
      inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1)
      SELECT doc_a, doc_b, inter,
             least(na.n_sh, nb.n_sh) AS small_sz
      FROM inter JOIN sz na ON doc_a = na.doc_id
                 JOIN sz nb ON doc_b = nb.doc_id
      WHERE inter * 10 >= least(na.n_sh, nb.n_sh) * 8
        AND inter * 2 < na.n_sh + nb.n_sh - inter
      ORDER BY doc_a, doc_b""",
    // d16: full replay on gram STRINGS (the d10 oracle convention — the
    // xxhash is an engine detail; equality on the underlying grams is the
    // semantic statement). 1-based positions throughout the SQL.
    "d16_intradoc_dedup" -> {
      val gram = (0 until RunW).map(k => s"w[i+$k]").mkString("||' '||")
      s"""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents),
      pos AS (
        SELECT doc_id, w, generate_subscripts(w, 1) AS i FROM toks),
      g AS (
        SELECT doc_id, i, $gram AS s
        FROM pos WHERE i <= len(w) - ${RunW - 1}),
      fp AS (SELECT doc_id, s, min(i) AS fp FROM g GROUP BY doc_id, s),
      dup AS (SELECT g.doc_id, g.i FROM g JOIN fp USING (doc_id, s)
              WHERE g.i > fp.fp),
      rm AS (SELECT DISTINCT doc_id, i + k AS ri
             FROM dup CROSS JOIN
               (SELECT unnest(generate_series(0, ${RunW - 1})) AS k) ks),
      tok AS (SELECT doc_id, generate_subscripts(w, 1) AS i,
                     unnest(w) AS tok FROM toks),
      keep AS (SELECT t.doc_id, t.i, t.tok FROM tok t
               LEFT JOIN rm ON t.doc_id = rm.doc_id AND t.i = rm.ri
               WHERE rm.ri IS NULL),
      agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                     md5(string_agg(tok, ' ' ORDER BY i)) AS clean_md5
              FROM keep GROUP BY doc_id)
      SELECT d.doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens,
             n_kept, clean_md5
      FROM documents d LEFT JOIN agg USING (doc_id)
      ORDER BY doc_id"""
    },
    "d11_incremental_chunks" -> s"""
      WITH toks AS (
        SELECT doc_id, CAST(substr(source, 4) AS INT) AS sn,
               regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents),
      cl AS (
        SELECT doc_id, sn,
               list_transform(range(CAST(ceil(len(w) / $ChunkW.0) AS INT)),
                 i -> md5(array_to_string(
                        w[(i * $ChunkW + 1):(i * $ChunkW + $ChunkW)], ' ')))
                 AS hs
        FROM toks),
      ch AS (
        SELECT doc_id, sn, generate_subscripts(hs, 1) AS idx,
               hs[generate_subscripts(hs, 1)] AS h
        FROM cl),
      idx AS (SELECT DISTINCT h FROM ch WHERE sn < $IncrSplit),
      newc AS (
        SELECT doc_id, idx, h,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, idx) AS rn
        FROM ch WHERE sn >= $IncrSplit)
      SELECT n.doc_id, count(*) AS n_chunks,
             CAST(sum(CASE WHEN i.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_known,
             CAST(sum(CASE WHEN i.h IS NULL AND rn > 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_batch_dup,
             CAST(sum(CASE WHEN i.h IS NULL AND rn = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_kept
      FROM newc n LEFT JOIN idx i USING (h)
      GROUP BY n.doc_id ORDER BY n.doc_id""",
    // d14: exact near-dup pairs touching the batch, replayed on literal
    // gram strings (the d03/d04 hash-vs-string equivalence posture) with
    // the same history/batch split as d11's oracle. The Spark side's
    // banded-index candidates + exact verification must reproduce this
    // set exactly.
    "d14_incremental_minhash" -> s"""
      WITH toks AS (
        SELECT doc_id, CAST(substr(source, 4) AS INT) AS sn,
               regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents),
      pos AS (
        SELECT doc_id, sn, w, generate_subscripts(w, 1) AS i FROM toks),
      sh AS (
        SELECT DISTINCT doc_id, sn, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
        FROM pos WHERE i <= len(w) - 2),
      bsh AS (SELECT doc_id, s FROM sh WHERE sn >= $IncrSplit),
      hsh AS (SELECT doc_id, s FROM sh WHERE sn < $IncrSplit),
      sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
      hist AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM bsh a JOIN hsh b ON a.s = b.s GROUP BY 1, 2),
      bb AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM bsh a JOIN bsh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      u AS (
        SELECT doc_a, doc_b, inter, 'history' AS vs FROM hist
        UNION ALL
        SELECT doc_a, doc_b, inter, 'batch' AS vs FROM bb)
      SELECT doc_a, doc_b, inter,
             (na.n_sh + nb.n_sh - inter) AS union_sz, vs
      FROM u JOIN sz na ON doc_a = na.doc_id
             JOIN sz nb ON doc_b = nb.doc_id
      WHERE 2 * inter >= na.n_sh + nb.n_sh - inter
      ORDER BY doc_a, doc_b""",
    "d10_substr_coverage" -> {
      val gram = (0 until RunW).map(k => s"w[i+$k]").mkString("||' '||")
      s"""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents),
      pos AS (
        SELECT doc_id, w, generate_subscripts(w, 1) AS i FROM toks),
      g AS (
        SELECT doc_id, i, $gram AS s
        FROM pos WHERE i <= len(w) - ${RunW - 1}),
      dup AS (SELECT s FROM g GROUP BY s HAVING count(*) >= 2),
      dp AS (SELECT doc_id, i FROM g JOIN dup USING (s)),
      cv AS (
        SELECT doc_id, i,
               lead(i) OVER (PARTITION BY doc_id ORDER BY i) AS nx
        FROM dp),
      agg AS (
        SELECT doc_id, count(*) AS n_dup_windows,
               CAST(sum(CASE WHEN nx IS NULL THEN $RunW
                             ELSE least($RunW, nx - i) END) AS BIGINT)
                 AS n_dup_tokens
        FROM cv GROUP BY doc_id)
      SELECT t.doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens,
             coalesce(n_dup_windows, 0) AS n_dup_windows,
             coalesce(n_dup_tokens, 0) AS n_dup_tokens
      FROM documents t LEFT JOIN agg USING (doc_id)
      ORDER BY doc_id"""
    },
    "d09_chunk_dedup" -> s"""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents),
      cl AS (
        SELECT doc_id,
               list_transform(range(CAST(ceil(len(w) / $ChunkW.0) AS INT)),
                 i -> md5(array_to_string(
                        w[(i * $ChunkW + 1):(i * $ChunkW + $ChunkW)], ' ')))
                 AS hs
        FROM toks),
      ch AS (SELECT doc_id, generate_subscripts(hs, 1) AS idx, hs FROM cl),
      k AS (
        SELECT doc_id, idx,
               row_number() OVER (PARTITION BY hs[idx]
                 ORDER BY doc_id, idx) AS rn
        FROM ch)
      SELECT doc_id, count(*) AS n_chunks,
             CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
             CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped
      FROM k GROUP BY doc_id ORDER BY doc_id""",

    "d13_chunk_dedup_rewrite" -> s"""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents),
      cl AS (
        SELECT doc_id,
               list_transform(range(CAST(ceil(len(w) / $ChunkW.0) AS INT)),
                 i -> array_to_string(
                        w[(i * $ChunkW + 1):(i * $ChunkW + $ChunkW)], ' '))
                 AS cs
        FROM toks),
      ch AS (SELECT doc_id, generate_subscripts(cs, 1) AS idx, cs FROM cl),
      k AS (
        SELECT doc_id, idx, cs[idx] AS ctext,
               row_number() OVER (PARTITION BY md5(cs[idx])
                 ORDER BY doc_id, idx) AS rn
        FROM ch)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
             md5(string_agg(ctext, ' ' ORDER BY idx)) AS clean_md5
      FROM k WHERE rn = 1
      GROUP BY doc_id ORDER BY doc_id"""
  )
}
