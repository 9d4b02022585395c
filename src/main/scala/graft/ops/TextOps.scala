package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.Tables
import CommitLog.fs

/** One keyed arrival of the streaming near-dup admission op (q129):
  * the doc's md5-portable 8-min signature plus its band-0 bucket key —
  * all computed per ROW (array_min over the shingle array), never via
  * aggregation, so the projection is streaming-safe. */
case class SigDoc(doc_id: Long, lang: String, bk: String, sig: Seq[Long])

/** Admission verdict of [[TextOps.neardupAdmit]]. */
case class AdmitVerdict(doc_id: Long, lang: String, admitted: Boolean)

/** Text-analysis + dedup operators over the `documents` table
  * (SURVEY §2.8 V14/V15 and the LLM-pipeline mandate: exact dedup,
  * MinHash/SimHash near-dup, n-gram Jaccard, language-ID, quality
  * scoring, token counting, fingerprinting).
  *
  * Determinism conventions (shared with RelationalQueries): every ratio
  * is emitted as a floor-scaled integer (`floor(10000 * x)`), never a
  * raw double — floor of the same IEEE double is identical across
  * engines, so the driver's value hash can't be tripped by decimal
  * rendering. Similarity queries emit ranks, not similarity floats.
  *
  * Scale posture: everything here is explode → hash-shuffle → agg with
  * per-doc keys, so it partitions cleanly by doc_id at 100 TB. The
  * near-dup path is candidate-generation (LSH bands / inverted shingle
  * index) followed by exact verification on the candidate set only —
  * never an all-pairs cross join over the corpus.
  */
object TextOps {

  /** Non-empty whitespace tokens of `text`. */
  private val toks: Column =
    filter(split(col("text"), " "), t => t =!= lit(""))

  /** Distinct 3-token shingles, [] when fewer than 3 tokens. */
  private val shingles: Column = {
    val t = col("t")
    when(size(t) >= 3,
      array_distinct(transform(sequence(lit(1), size(t) - 2), i =>
        concat_ws(" ", element_at(t, i), element_at(t, i + 1),
          element_at(t, i + 2)))))
      .otherwise(array().cast("array<string>"))
  }

  private def withToks(docs: DataFrame): DataFrame =
    docs.withColumn("t", toks)

  /** The materialized per-doc 3-shingle arrays — the shared input index
    * of every shingle-based op (q26 MinHash, q27 exact Jaccard, q56
    * decontamination). Built once and kept per (session, dir) under
    * `spark.graft.cacheTables` (the q34/q49 convention: an index is
    * built once and probed many times); uncached callers still get a
    * per-call localCheckpoint so the string transforms never recompute
    * inside one query's multi-branch plan. */
  private val shingleCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), (SparkSession, DataFrame)]

  private def shingleDocs(spark: SparkSession, dir: String): DataFrame = {
    def build: DataFrame = withToks(Tables.documents(spark, dir))
      .withColumn("sh", shingles)
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("sh"))
      .localCheckpoint()
    val caching =
      spark.conf.getOption("spark.graft.cacheTables").contains("true")
    if (!caching) build
    else graft.SessionCache.getOrBuild(shingleCache, spark, dir)(build)
  }

  // ---------------------------------------------------------------- q13
  /** q13 — token frequencies: top-5 tokens per lang (V15).
    * explode → partial+final hash agg → per-lang top-k window. */
  def q13TextTokens(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n").desc, col("token"))
    Tables.documents(spark, dir)
      .select(col("lang"), explode(toks).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= 5)
      .select(col("lang"), col("rn"), col("token"), col("n"))
      .orderBy("lang", "rn")
  }

  // ---------------------------------------------------------------- q14
  /** q14 — exact dedup (V14): canonical key = sorted distinct token set
    * ("bag of words"). Reports, per source, how many docs survive raw-
    * text dedup vs canonical dedup. The kept-row choice at 100 TB would
    * be `min(doc_id)` per key — one hash shuffle on the canonical key. */
  def q14ExactDedup(spark: SparkSession, dir: String): DataFrame = {
    val bow = array_join(array_sort(array_distinct(toks)), " ")
    Tables.documents(spark, dir)
      .withColumn("bow", bow)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_uniq_text"),
        countDistinct(col("bow")).as("n_uniq_bow"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- q47
  /** q47 — dedup retained rows (V14, the kept-row output q14's comment
    * promises): per canonical bag-of-words key, keep the minimum doc_id
    * and report the duplicate-group size. One hash shuffle on the
    * canonical key; min_by carries the kept row's attributes without a
    * second join back to the corpus. */
  def q47DedupKeep(spark: SparkSession, dir: String): DataFrame = {
    val bow = array_join(array_sort(array_distinct(toks)), " ")
    Tables.documents(spark, dir)
      .withColumn("bow", bow)
      .groupBy(col("bow"))
      .agg(
        min(col("doc_id")).as("doc_id"),
        min_by(col("source"), col("doc_id")).as("source"),
        min_by(col("lang"), col("doc_id")).as("lang"),
        count(lit(1)).as("n_dups"))
      .select(col("doc_id"), col("source"), col("lang"), col("n_dups"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q26
  /** q26 — MinHash + LSH near-dup candidates (no oracle: xxhash64 is
    * engine-specific). 16 minhashes over 3-token shingles, 4 bands × 4
    * rows; candidates = docs sharing a band bucket; candidates are then
    * verified with exact shingle-set Jaccard. Top-100 pairs by Jaccard.
    *
    * At 100 TB: band bucketing is one shuffle keyed by (band, key);
    * bucket sizes stay O(near-dup cluster), never O(corpus), and the
    * exact verification joins only the candidate pairs. The band
    * self-join carries ONLY doc ids — candidate pairs are deduplicated
    * as narrow (a, b) rows, and the shingle arrays are joined back just
    * once per distinct pair for the exact-Jaccard verify (the arrays
    * are the wide payload; shuffling them through the 4-band join and
    * the pair dedup would multiply the shuffle bytes ~5×). */
  def q26MinhashNeardup(spark: SparkSession, dir: String): DataFrame = {
    // materialized once (shared shingle index): feeds the signature
    // pipeline AND the two verify joins
    val docs = shingleDocs(spark, dir)
    // sig[j] = min over shingles of xxhash64(j, shingle), j = 0..15
    val sig = docs.withColumn("sig",
      expr("transform(sequence(0, 15), j -> array_min(transform(sh, s -> xxhash64(j, s))))"))
    val bands = sig.select(col("doc_id"),
        explode(expr(
          """transform(sequence(0, 3), b ->
            |  struct(b AS band, xxhash64(sig[b*4], sig[b*4+1], sig[b*4+2], sig[b*4+3]) AS key))"""
            .stripMargin)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))
      .localCheckpoint()
    val cand = bands.select(col("band"), col("key"), col("doc_id").as("doc_a"))
      .join(bands.select(col("band"), col("key"), col("doc_id").as("doc_b")),
        Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("n_union", size(array_union(col("sh_a"), col("sh_b"))))
      .withColumn("j_bp",
        floor(lit(10000) * col("n_inter") / col("n_union")).cast("bigint"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"),
        col("j_bp"))
      .orderBy(col("j_bp").desc, col("doc_a"), col("doc_b"))
      .limit(100)
  }

  // ---------------------------------------------------------------- q27
  /** q27 — exact n-gram (3-token shingle) Jaccard, top-50 pairs.
    * Candidate generation is an inverted-index self-join on the shingle
    * with a DOCUMENT-FREQUENCY CAP: a shingle occurring in more than
    * `dfCap` docs generates O(df²) candidate pairs while discriminating
    * nothing — it is the n-gram analogue of a stopword, and at 100 TB
    * one such hot key funnels a quadratic bucket through a single task.
    * Capped shingles are only barred from NOMINATING candidates; the
    * intersection they contribute is still counted exactly, split by
    * frequency class: n_inter = (shared RARE shingles, the self-join's
    * own group count — every joined row is one shared rare shingle) +
    * (shared COMMON shingles, an array-intersect of the two docs'
    * common-shingle sets — tiny arrays, because only a handful of
    * DISTINCT shingles ever exceed the cap even when every doc
    * contains them). Nothing quadratic touches a hot key, and no
    * full shingle array ever crosses a shuffle. Integer output
    * (counts + rank), oracle-safe. */
  // The df-capped inverted index (rare postings) and the per-doc meta
  // table are q27's probe-many index artifacts: materialized once so
  // the explode never re-runs per consumer (inv feeds three branches),
  // and kept per (session, dir) under spark.graft.cacheTables like the
  // shingle index itself.
  private val jaccardCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), (SparkSession, (DataFrame, DataFrame))]

  private def jaccardIndex(spark: SparkSession, dir: String, dfCap: Int)
      : (DataFrame, DataFrame) = {
    def build: (DataFrame, DataFrame) = {
      val docs = shingleDocs(spark, dir)
      val inv = docs.select(col("doc_id"), explode(col("sh")).as("s"))
        .localCheckpoint()
      val dfTab = inv.groupBy("s").agg(count(lit(1)).as("df"))
        .localCheckpoint()
      val rare = inv.join(dfTab.filter(col("df") <= dfCap), "s")
        .select("doc_id", "s")
        .localCheckpoint()
      // per-doc meta: shingle-set size + the doc's (small)
      // common-shingle set
      val commonSets = inv.join(dfTab.filter(col("df") > dfCap), "s")
        .groupBy("doc_id").agg(collect_list(col("s")).as("cs"))
      val meta = docs.select(col("doc_id"), size(col("sh")).as("n_sh"))
        .join(commonSets, Seq("doc_id"), "left")
        .localCheckpoint()
      (rare, meta)
    }
    val caching =
      spark.conf.getOption("spark.graft.cacheTables").contains("true")
    if (!caching) build
    // dfCap is part of the key: a caller with a different cap must not
    // receive an index built with another cap's rare/common split
    else graft.SessionCache.getOrBuild(jaccardCache, spark,
      s"$dir#$dfCap")(build)
  }

  def q27ShingleJaccard(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfCap = 64
    val (rare, meta) = jaccardIndex(spark, dir, dfCap)
    val nRare = rare.as("x").join(rare.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_rare"))
    // Distributed top-k (TakeOrderedAndProject) FIRST, then rank the 50
    // survivors — a global row_number() window would funnel every
    // candidate pair through a single task.
    val w = Window.orderBy(
      (col("n_inter") / col("n_union")).desc, col("doc_a"), col("doc_b"))
    nRare
      .join(meta.select(col("doc_id").as("doc_a"), col("n_sh").as("na"),
        col("cs").as("ca")), "doc_a")
      .join(meta.select(col("doc_id").as("doc_b"), col("n_sh").as("nb"),
        col("cs").as("cb")), "doc_b")
      .withColumn("n_common",
        when(col("ca").isNull || col("cb").isNull, lit(0L))
          .otherwise(size(array_intersect(col("ca"), col("cb"))).cast("long")))
      .withColumn("n_inter", col("n_rare") + col("n_common"))
      .withColumn("n_union",
        (col("na") + col("nb")).cast("bigint") - col("n_inter"))
      .orderBy((col("n_inter") / col("n_union")).desc, col("doc_a"), col("doc_b"))
      .limit(50)
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .select(col("rank"), col("doc_a"), col("doc_b"), col("n_inter"),
        col("n_union"))
      .orderBy("rank")
  }

  // ---------------------------------------------------------------- q54
  /** q54 — deterministic stratified sampling: the curation step of a
    * training-data pipeline (downsample over-represented languages at
    * per-stratum rates). The sampler is content-addressed, not RNG:
    * keep a doc iff the first md5(doc_id) hex byte falls below the
    * stratum's threshold — reproducible across engines, machines and
    * reruns, a codegen'd filter over the scan with no shuffle before
    * the final sort, and exact: md5 is bit-identical in Spark and
    * DuckDB, so the sample MEMBERSHIP itself sits under the oracle
    * hash. Rates (out of 256): en 0x80=50%, de/fr 0x40=25%,
    * es/zh 0x20=12.5%. */
  def q54StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rates = Seq(("en", "80"), ("de", "40"), ("fr", "40"),
      ("es", "20"), ("zh", "20")).toDF("lang", "thr")
    Tables.documents(spark, dir)
      .withColumn("bucket",
        substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2))
      .join(broadcast(rates), Seq("lang"))
      .filter(col("bucket") < col("thr"))
      .select(col("lang"), col("doc_id"), col("bucket"))
      .orderBy("lang", "doc_id")
  }

  // ---------------------------------------------------------------- q56
  /** q56 — train/test decontamination: the eval-integrity step of a
    * training-data pipeline (find test-set documents whose content
    * leaked into the training split). Split membership is
    * content-addressed like q54 (first md5(doc_id) hex byte < 0x10 →
    * test, ~6%), so the split is reproducible and oracle-checkable.
    * Evidence = shared distinct 3-token shingles with a DOCUMENT-
    * FREQUENCY CAP: a shingle in > dfCap docs is boilerplate, not
    * leakage, and — exactly as in q27 — an uncapped inverted index
    * funnels a quadratic hot-key bucket through one task at 100 TB.
    * Flagged pairs share >= 3 rare shingles; severity is the flagged
    * fraction of the test doc's shingle set (floor basis points).
    *
    * Scale shape: the test side of the shingle join is a few percent
    * of the corpus and the index is df-capped, so candidate volume is
    * O(test shingles × df) — never corpus × corpus. One hash shuffle
    * on the shingle, one on the (test, train) pair. */
  // The (docs, rare) pair is the decontamination INDEX — shingle sets
  // plus the df-capped inverted index — and like q34's LSH tables or
  // q49's quantizer it is built once and probed many times, so under
  // `spark.graft.cacheTables` it is kept per (session, dir) instead of
  // eagerly re-materialized (two localCheckpoints) on every call,
  // which made each invocation pay the full index build.
  private val contamCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), (SparkSession, (DataFrame, DataFrame))]

  private def contamIndex(spark: SparkSession, dir: String, dfCap: Int)
      : (DataFrame, DataFrame) = {
    def build: (DataFrame, DataFrame) = {
      // the split flag is a cheap column over the shared shingle index
      val docs = shingleDocs(spark, dir)
        .withColumn("is_test",
          substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2)
            < lit("10"))
        .select(col("doc_id"), col("is_test"), col("sh"))
      // materialized once: both sides of the overlap join read it, and
      // recomputing the explode + df-cap join per side doubles the cost
      val inv = docs.select(col("doc_id"), col("is_test"),
        explode(col("sh")).as("s"))
      val rare = inv.join(
        inv.groupBy("s").agg(count(lit(1)).as("df"))
          .filter(col("df") <= dfCap), "s")
        .localCheckpoint()
      (docs, rare)
    }
    val caching =
      spark.conf.getOption("spark.graft.cacheTables").contains("true")
    if (!caching) build
    // dfCap in the key (same contract as jaccardIndex)
    else graft.SessionCache.getOrBuild(contamCache, spark,
      s"$dir#$dfCap")(build)
  }

  def q56Decontamination(spark: SparkSession, dir: String): DataFrame = {
    val (docs, rare) = contamIndex(spark, dir, dfCap = 64)
    val overlap = rare.filter(col("is_test"))
      .select(col("doc_id").as("test_id"), col("s"))
      .join(rare.filter(!col("is_test"))
        .select(col("doc_id").as("train_id"), col("s")), "s")
      .groupBy("test_id", "train_id")
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= 3)
    overlap
      .join(docs.select(col("doc_id").as("test_id"),
        size(col("sh")).cast("long").as("n_test_sh")), "test_id")
      .withColumn("contam_bp",
        floor(lit(10000) * col("n_overlap") / col("n_test_sh")))
      .select(col("test_id"), col("train_id"), col("n_overlap"),
        col("contam_bp"))
      .orderBy(col("n_overlap").desc, col("test_id"), col("train_id"))
  }

  // ---------------------------------------------------------------- q57
  /** q57 — training-shard packing: concatenate the (deterministically
    * shuffled) corpus and cut it into shards of `budget` tokens — the
    * step that turns a curated corpus into fixed-size training shards.
    * A document's shard is the one containing its first token:
    * shard_id = floor(prefix_tokens_before_doc / budget). The shuffle
    * order is content-addressed (md5(doc_id)), so the packing is
    * reproducible across engines and reruns.
    *
    * The prefix sum is computed DISTRIBUTED, not with a global
    * single-task window: range-partition on the order key (contiguous
    * key ranges per partition), then (pass 1) one tiny row per
    * partition — its token total — is collected and prefix-summed into
    * per-partition offsets (a bounded dimension build, ≤ one row per
    * partition, like q49's centroids); (pass 2) a window PARTITIONED
    * by partition id computes within-partition prefixes in parallel
    * and adds the broadcast offset. Shard assignment is invariant to
    * where partition boundaries fall, so the result is exactly the
    * sequential packing at any parallelism — the standard two-level
    * scan/prefix-sum decomposition, which holds at 100 TB where a
    * global ORDER BY window would funnel the corpus through one task. */
  def q57ShardPacking(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val budget = 4096
    val parted = withToks(Tables.documents(spark, dir))
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tok"),
        md5(col("doc_id").cast("string").cast("binary")).as("ord"))
      .repartitionByRange(col("ord"), col("doc_id"))
      .sortWithinPartitions(col("ord"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    val sums = parted.groupBy("pid").agg(sum("n_tok").as("ptok"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = sums.map { case (pid, t) =>
      val o = (pid, acc); acc += t; o
    } // offset of a partition = token total of all partitions before it
    val offDf = broadcast(offsets.toSeq.toDF("pid", "off"))
    val w = Window.partitionBy(col("pid")).orderBy(col("ord"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    parted
      .withColumn("wb", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .join(offDf, "pid")
      .withColumn("shard_id", floor((col("off") + col("wb")) / budget))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy("shard_id")
  }

  // ---------------------------------------------------------------- q59
  /** q59 — per-document keyword extraction by TF-IDF, top-3 terms per
    * doc. The idf is the LOG-FREE rational variant N/df (same ranking
    * family; log compresses but never reorders a single-term score),
    * so the emitted score floor(10000·tf·N/df) is exact integer-in,
    * integer-out arithmetic — no transcendental whose last ulp could
    * differ across engines — and BOTH engines rank by the emitted
    * integer, so rank and hash agree by construction.
    *
    * Shape: ONE explode → tf hash agg by (doc,term) → df as a count
    * window over term (tf already holds exactly one row per distinct
    * (doc,term), so `count(*) over (partition by term)` IS the
    * document frequency — no second explode, no token-level distinct
    * shuffle, no self-join) → per-doc top-k window. Everything
    * partitions by (doc,term), term, then doc_id; N is a one-row
    * broadcast dimension computed INSIDE the plan (the q65/q83
    * pattern) — no separate driver-side count() action, so the corpus
    * is scanned once per run, not once extra just to learn N. At
    * 100 TB the term window's partition is df-sized (Zipf: ≪ corpus)
    * and the per-doc window is embarrassingly parallel. */
  def q59TfidfTerms(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val tok = withToks(docs).select(col("doc_id"), explode(col("t")).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_bp").desc, col("term"))
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .crossJoin(broadcast(n))
      .withColumn("score_bp",
        floor(lit(10000L) * col("tf") * col("n_docs") / col("df")))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("rn"), col("term"), col("tf"),
        col("score_bp"))
      .orderBy("doc_id", "rn")
  }

  // ---------------------------------------------------------------- q28
  /** SimHash of the distinct-token set: bit i of the 64-bit signature is
    * set iff the sum over tokens of ±1 (sign of bit i of splitmix64(token))
    * is positive. Docs with identical token sets get identical signatures,
    * so bag-of-words duplicates collide exactly. */
  /** The 64-bit SimHash signature per doc (shared by q28 groups and
    * q73 near-pairs). Narrow per-row projection, no shuffle — and no
    * typed closure: tokenize/dedup are built-ins and the hash is the
    * native graft_simhash64 expression (graft.functions.SimHash64),
    * so the whole projection evaluates in place on Tungsten rows with
    * zero Encoder round-trips. Values are bit-identical to the
    * previous closure form (same FNV-1a + splitmix64 over the same
    * UTF-8 bytes; golden-pinned in TextOpsSpec). */
  def simhashSigs(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id").cast("long").as("doc_id"),
      graft.functions.GraftFunctions.simHash64(
        array_distinct(filter(split(col("text"), " "), x => x =!= "")))
        .as("simhash"))
  }

  def simhashGroups(docs: DataFrame): DataFrame = {
    // materialized: the dup-sig agg and the join-back both consume it
    val sigs = simhashSigs(docs).localCheckpoint()
    // Group id = min doc_id of the group (q55's min-label convention):
    // a plain keyed aggregate, content-addressed and order-free. Dense
    // ids are not semantically required, and ranking — even over the
    // distinct dup signatures — funnels a corpus-order row count
    // through ONE unpartitioned window task at web dup rates.
    val dupSigs = sigs.groupBy(col("simhash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("group_id"))
      .filter(col("n_docs") > 1)
    sigs.join(dupSigs, "simhash")
      .select(col("group_id"), col("doc_id"), col("n_docs"))
      .orderBy("group_id", "doc_id")
  }

  /** q28 — SimHash duplicate groups (no oracle: engine-specific hash).
    * Scale note: the typed map is a narrow per-row transform (no
    * shuffle); grouping shuffles only the 64-bit signature. */
  def q28SimhashDups(spark: SparkSession, dir: String): DataFrame =
    simhashGroups(Tables.documents(spark, dir))

  // ---------------------------------------------------------------- q73
  /** q73 — SimHash near-dup PAIRS at hamming distance ≤ 3 (q28 finds
    * exact-signature groups; this finds the near misses a changed word
    * or two produces). Candidate generation + verify live in the
    * shared [[SimHashBanding]] kernel: Manku WWW'07 3-of-6 block
    * combinations over DISTINCT signatures (pigeonhole-lossless, ~2^32
    * bucket keys bound candidate volume at web scale), exact
    * `bit_count(xor)` verify, then expansion back to doc pairs. No
    * oracle (engine-specific hash); ScalaTest equates the result with
    * a driver-side all-pairs recomputation. */
  def q73SimhashNearPairs(spark: SparkSession, dir: String): DataFrame =
    SimHashBanding
      .nearPairs(simhashSigs(Tables.documents(spark, dir)), "doc_id", "simhash")
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("dist"))
      .orderBy("doc_a", "doc_b")

  // ---------------------------------------------------------------- q29
  /** q29 — n-gram language-ID heuristic: character-trigram profiles are
    * "trained" on the deterministic split doc_id % 5 = 0 (using the
    * labeled lang), remaining docs are classified by integer profile-hit
    * scoring (sum over the doc's trigram occurrences of the profile
    * count), argmax with lexicographic tiebreak. Output is the
    * lang × predicted-lang confusion matrix. Integer scores keep the
    * argmax engine-portable. */
  // The per-(doc, trigram) multiplicity table is q29's index-like
  // intermediate: derived once from the corpus, probed on every run.
  // Kept per (session, dir) under spark.graft.cacheTables like the
  // shingle/trigram/LSH indexes (uncached callers still get one
  // localCheckpoint per call so the explode never recomputes inside
  // the query's train/test branches).
  private val langTrigramCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), (SparkSession, DataFrame)]

  private def langTrigramCounts(spark: SparkSession, dir: String): DataFrame = {
    // guard: texts shorter than 3 chars have NO trigrams. Spark's
    // sequence(1, 0) yields [1, 0] (descending step −1) while DuckDB's
    // generate_series(1, 0) is empty — without the CASE the two engines
    // would diverge on any such doc.
    // ONE corpus explode feeds both sides: the per-(doc, trigram)
    // multiplicity table is materialized and split train/test from
    // there (round 4 exploded the corpus once per side — two full
    // passes). Train profiles are sums of per-doc counts, the same
    // occurrence totals. Doc-side multiplicities stay pre-aggregated
    // before the profile join: score = Σ_g n_doc(g)·cnt(lang,g) —
    // identical integer result, ~5× less join input (the oracle's
    // per-occurrence SUM computes the same value).
    def build: DataFrame = Tables.documents(spark, dir)
      .withColumn("tg",
        expr("""CASE WHEN length(text) >= 3
               |  THEN transform(sequence(1, length(text) - 2), i -> substr(text, i, 3))
               |  ELSE CAST(array() AS array<string>) END""".stripMargin))
      .select(col("doc_id"), col("lang"), explode(col("tg")).as("g"))
      .groupBy(col("doc_id"), col("lang"), col("g"))
      .agg(count(lit(1)).as("n_g"))
      .localCheckpoint()
    val caching =
      spark.conf.getOption("spark.graft.cacheTables").contains("true")
    if (!caching) build
    else graft.SessionCache.getOrBuild(langTrigramCache, spark, dir)(build)
  }

  def q29LangTrigramId(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = langTrigramCounts(spark, dir)
    // The train profile is BOUNDED (langs × observed trigram space) and
    // probed by every corpus row — broadcast it explicitly so the
    // score join never shuffles the corpus side, at 100 TB included.
    val train = broadcast(counts.filter(col("doc_id") % 5 === 0)
      .groupBy(col("lang").as("profile_lang"), col("g"))
      .agg(sum(col("n_g")).as("cnt")))
    val test = counts.filter(col("doc_id") % 5 =!= 0)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("profile_lang"))
    test.join(train, "g")
      .groupBy(col("doc_id"), col("lang"), col("profile_lang"))
      .agg(sum(col("n_g") * col("cnt")).as("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("lang"), col("profile_lang").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "pred_lang")
  }

  // ---------------------------------------------------------------- q30
  /** q30 — per-doc quality scoring: token counts, type-token ratio,
    * stopword ratio, mean token length — the standard cheap pre-training
    * quality filters. All ratios floor-scaled to integers. */
  def q30QualityScore(spark: SparkSession, dir: String): DataFrame = {
    val stoplist = Seq("the", "a", "of", "to", "in", "and")
    withToks(Tables.documents(spark, dir))
      .withColumn("n_tokens", size(col("t")).cast("bigint"))
      .withColumn("n_uniq", size(array_distinct(col("t"))).cast("bigint"))
      .withColumn("n_stop",
        size(filter(col("t"), t => t.isin(stoplist: _*))).cast("bigint"))
      .withColumn("sum_len",
        aggregate(col("t"), lit(0L), (acc, x) => acc + length(x)))
      // a 0-token doc would divide by zero: Spark yields NaN→0 on the
      // bigint cast while DuckDB's CAST(NaN) errors — both engines
      // score the empty doc 0 explicitly
      .withColumn("ttr_bp", when(col("n_tokens") > 0,
        floor(lit(10000) * col("n_uniq") / col("n_tokens")).cast("bigint"))
        .otherwise(lit(0L)))
      .withColumn("stop_bp", when(col("n_tokens") > 0,
        floor(lit(10000) * col("n_stop") / col("n_tokens")).cast("bigint"))
        .otherwise(lit(0L)))
      .withColumn("avg_len_x100", when(col("n_tokens") > 0,
        floor(lit(100) * col("sum_len") / col("n_tokens")).cast("bigint"))
        .otherwise(lit(0L)))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_uniq"),
        col("ttr_bp"), col("stop_bp"), col("avg_len_x100"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q31
  /** q31 — corpus token accounting per lang: whitespace tokens plus a
    * deterministic "BPE-ish" subword count (ceil(len/4) chunks per
    * token — arithmetic, so the oracle needs no regex engine parity). */
  def q31TokenStats(spark: SparkSession, dir: String): DataFrame = {
    withToks(Tables.documents(spark, dir))
      .withColumn("n_tokens", size(col("t")).cast("bigint"))
      .withColumn("n_token_chars",
        aggregate(col("t"), lit(0L), (acc, x) => acc + length(x)))
      .withColumn("n_subwords",
        aggregate(col("t"), lit(0L),
          (acc, x) => acc + ceil(length(x) / lit(4.0)).cast("long")))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_token_chars")).as("n_token_chars"),
        sum(col("n_subwords")).as("n_subwords"))
      .orderBy("lang")
  }

  // ---------------------------------------------------------------- q32
  /** Karp-Rabin polynomial fingerprints: a whole-text hash plus a
    * winnowing sketch (min hash of each 16-window of 8-gram hashes,
    * deduplicated) — the classic local fingerprint for plagiarism/
    * near-dup detection. Typed map: per-row, no shuffle. */
  def fingerprints(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) => (id, Hash64.polyHash(text), Hash64.winnow(text, 8, 16).length.toLong) }
      .toDF("doc_id", "fingerprint", "n_winnow")
      .orderBy("doc_id")
  }

  /** q32 — document fingerprints (no oracle: golden values asserted in
    * ScalaTest instead). */
  def q32DocFingerprint(spark: SparkSession, dir: String): DataFrame =
    fingerprints(Tables.documents(spark, dir))

  // ---------------------------------------------------------------- q67
  /** q67 — within-document repetition signals (V15, the classic
    * pre-training quality heuristics): per doc, the duplicate-shingle
    * fraction (1 − distinct/total 3-token shingles) and the top
    * shingle's share, both in basis points. One explode → (doc,
    * shingle) hash agg → per-doc re-agg; everything partitions by
    * doc_id, shingle counts never leave their document, so this is
    * embarrassingly parallel at any corpus size. Integer-in double
    * division with matched association keeps the floors hash-exact. */
  def q67Repetition(spark: SparkSession, dir: String): DataFrame = {
    val t = col("t")
    val sh = withToks(Tables.documents(spark, dir))
      .where(size(t) >= 3)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(t) - 2), i =>
          concat_ws(" ", element_at(t, i), element_at(t, i + 1),
            element_at(t, i + 2)))).as("s"))
    sh.groupBy("doc_id", "s").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_sh"), count(lit(1)).as("n_uniq"),
        max(col("c")).as("max_c"))
      .select(col("doc_id"), col("n_sh"),
        floor(lit(10000) * (col("n_sh") - col("n_uniq")) / col("n_sh"))
          .as("dup_bp"),
        floor(lit(10000) * col("max_c") / col("n_sh")).as("top_bp"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q69
  /** q69 — deterministic exact-k per-group sampling: the 10 smallest
    * md5(doc_id) per language. Complements q54 (Bernoulli-by-hash:
    * reproducible RATE) with reproducible COUNT — the other sampling
    * contract a curation pipeline needs. The rank window partitions by
    * lang, and Catalyst's WindowGroupLimit pushes the rnk ≤ 10 filter
    * into a per-partition top-k before the shuffle, so the full corpus
    * is never sorted — each map task forwards at most k rows per
    * group. */
  def q69HashSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")),
        col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .where(col("rnk") <= 10)
      .select(col("lang"), col("rnk"), col("doc_id"))
      .orderBy("lang", "rnk")
  }

  // ---------------------------------------------------------------- q72
  /** The char-trigram inverted index over `documents.text` — the
    * pg_trgm / search-engine structure that accelerates substring
    * selection: a pattern's candidates are the docs whose trigram set
    * covers the pattern's trigrams, and only candidates are verified
    * with the exact `contains`. Lossless by construction (any doc
    * containing the pattern contains every one of its trigrams), so
    * the indexed route returns EXACTLY the scan's answer. Kept per
    * (session, dir) under spark.graft.cacheTables — at 100 TB this is
    * the artifact you persist partitioned by trigram, and a query
    * reads |pattern| posting lists instead of the corpus. */
  private val trigramCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), (SparkSession, DataFrame)]

  private def trigramIndex(spark: SparkSession, dir: String): DataFrame = {
    def build: DataFrame = Tables.documents(spark, dir)
      .filter(length(col("text")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(1, length(text)-2), i -> substring(text, i, 3))")))
        .as("tri"))
      .localCheckpoint()
    val caching =
      spark.conf.getOption("spark.graft.cacheTables").contains("true")
    if (!caching) build
    else graft.SessionCache.getOrBuild(trigramCache, spark, dir)(build)
  }

  /** q72 — index-accelerated substring search for a fixed phrase:
    * trigram-covering candidates from the inverted index, then the
    * exact `contains` verify on candidates only. The oracle is the
    * plain full-scan predicate, so the hash match proves the index
    * route is lossless. */
  def q72SubstringSearch(spark: SparkSession, dir: String): DataFrame = {
    val pattern = "hash join"
    val patTris = pattern.sliding(3).toSeq.distinct
    val cand = trigramIndex(spark, dir)
      .filter(col("tri").isin(patTris: _*))
      .groupBy("doc_id").agg(count(lit(1)).as("n")) // index rows are distinct
      .filter(col("n") === patTris.length)
      .select("doc_id")
    Tables.documents(spark, dir)
      .join(cand, "doc_id")
      .filter(col("text").contains(pattern))
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q62
  /** q62 — fuzzy name linkage (V14/F4): unordered pairs of distinct
    * part names within edit distance 4, blocked on the head noun.
    * The classic record-linkage shape: collapse the corpus to a
    * DISTINCT-key dictionary first (dictionary ≪ corpus — here 64
    * names over 2k..200M parts), then an intra-block self-join with
    * the exact levenshtein verifier on candidate pairs only. At 100 TB
    * the dictionary is still vocabulary-sized (broadcast-able) and the
    * blocking key bounds each join group; no all-pairs over raw rows.
    * levenshtein is integer-exact, so the oracle hash is trivially
    * stable. */
  def q62FuzzyNames(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(spark, dir)
      .groupBy(col("p_name").as("name"),
        split(col("p_name"), " ").getItem(1).as("noun"))
      .agg(count(lit(1)).as("n_parts"))
    val a = names.select(col("noun"), col("name").as("name_a"),
      col("n_parts").as("cnt_a"))
    val b = names.select(col("noun"), col("name").as("name_b"),
      col("n_parts").as("cnt_b"))
    a.join(b, Seq("noun"))
      .where(col("name_a") < col("name_b"))
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b")).cast("bigint"))
      .where(col("dist") <= 4)
      .select(col("name_a"), col("name_b"), col("dist"),
        col("cnt_a"), col("cnt_b"))
      .orderBy("name_a", "name_b")
  }

  // ---------------------------------------------------------------- q65
  /** q65 — bigram language model (V15): top-3 continuations per prefix
    * token with conditional probability in basis points. One explode
    * of per-doc bigram structs → hash agg by (w1,w2); the prefix total
    * is a sum window over that aggregate (one row per distinct bigram —
    * vocabulary², not corpus-sized), same trick as q59's df. The score
    * floor(10000·c2/c1) is integer-in double division, identical in
    * both engines, and ranking is by (count desc, w2) so rank and hash
    * agree by construction. At 100 TB: explode partitions by doc, the
    * agg by bigram; nothing global. */
  def q65BigramLm(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bg = withToks(Tables.documents(spark, dir))
      .where(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t)-2), i -> struct(t[i] as w1, t[i+1] as w2))"))
        .as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val bc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val w = Window.partitionBy(col("w1")).orderBy(col("c2").desc, col("w2"))
    bc.withColumn("c1", sum(col("c2")).over(Window.partitionBy(col("w1"))))
      .withColumn("p_bp", floor(lit(10000) * col("c2") / col("c1")))
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .where(col("rn") <= 3)
      .select(col("w1"), col("rn"), col("w2"), col("c2"), col("p_bp"))
      .orderBy("w1", "rn")
  }

  // --------------------------------------------------------------- q120
  /** q120 — perplexity-based quality filter (V15, the standard LLM
    * curation pass q65's model enables): score every document by its
    * surprisal under the CORPUS bigram MLE model and surface the 20
    * most perplexing — the band a curation pipeline drops or
    * down-weights. Per-bigram surprisal is integerized BEFORE any
    * aggregation — `floor(10000 · ln(c1/c2))` "decibasis points", one
    * deterministic double op per DISTINCT bigram — so the per-doc SUM
    * is integer-exact and order-independent (summing raw doubles would
    * drift past the oracle's 1e-9 hash tolerance under Spark's
    * partition-order-dependent reduction; the q59/q65 fixed-point
    * discipline, extended to a log). c1 ≥ c2 always (a bigram's count
    * bounds its prefix's), so surprisal is non-negative, and every
    * scored bigram exists in the model (the doc itself contributed),
    * so no smoothing term is needed. mean_dbp = floor(total/n) keeps
    * the per-doc normalization integer-exact too.
    *
    * Scale shape: the instance stream (doc_id, w1, w2) joins the two
    * MODEL tables (distinct bigrams, unigram totals) — model cardinality
    * is vocab-bounded, orders below the corpus, so AQE broadcasts them
    * at production scale; the doc reduction is one hash agg; top-20 is
    * TakeOrdered, no global sort. */
  def q120PerplexityFilter(spark: SparkSession, dir: String): DataFrame = {
    val bg = withToks(Tables.documents(spark, dir))
      .where(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t)-2), i -> struct(t[i] as w1, t[i+1] as w2))"))
        .as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val bc = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val uc = bc.groupBy("w1").agg(sum(col("c2")).as("c1"))
    bg.join(bc, Seq("w1", "w2"))
      .join(uc, Seq("w1"))
      .withColumn("s",
        floor(lit(10000) * log(col("c1").cast("double") / col("c2")))
          .cast("bigint"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("s")).as("surprisal_dbp"))
      .withColumn("mean_dbp",
        floor(col("surprisal_dbp").cast("double") / col("n_bigrams"))
          .cast("bigint"))
      .orderBy(col("mean_dbp").desc, col("doc_id"))
      .limit(20)
  }

  // ---------------------------------------------------------------- q66
  /** q66 — robust outlier detection (V15 quality filtering): documents
    * whose token count sits more than 2 MADs from their language's
    * median (median absolute deviation — the robust z-score every
    * curation pipeline runs before training). Two bounded per-lang
    * aggregates (median, then MAD) broadcast back over the corpus; the
    * corpus itself is scanned, never sorted globally. Medians of
    * integer counts are exactly k or k+0.5 under linear interpolation
    * in both engines, so the ×10 integerization and the 2·MAD
    * comparison are exact. */
  def q66TokenOutliers(spark: SparkSession, dir: String): DataFrame = {
    // materialized: the median, MAD and outlier cut all consume it —
    // unmaterialized, each branch re-scanned and re-tokenized the docs
    val d = withToks(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), size(col("t")).cast("long").as("n_tok"))
      .localCheckpoint()
    val med = d.groupBy("lang")
      .agg(expr("percentile(n_tok, 0.5)").as("med"))
    val withMed = d.join(broadcast(med), "lang")
    val mad = withMed.groupBy("lang")
      .agg(expr("percentile(abs(n_tok - med), 0.5)").as("mad"))
    withMed.join(broadcast(mad), "lang")
      .where(abs(col("n_tok") - col("med")) > lit(2) * col("mad"))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        // explicit FLOOR on both sides: a .25-grain MAD (even-sized
        // group over .5-grain deviations) makes 10·mad .5-grain, where
        // DuckDB's CAST rounds but Spark's cast truncates
        floor(lit(10) * col("med")).as("med_x10"),
        floor(lit(10) * col("mad")).as("mad_x10"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q74
  /** q74 — context-window chunking: the step that turns a raw corpus
    * into training examples. Sliding token windows of size 32 with
    * stride 24 (chunk starts at every multiple of the stride below the
    * doc's token count, so the tail is always covered and every token
    * lands in ≥ 1 chunk). The chunk TEXT itself is in the output, so
    * the oracle hash proves the slicing is byte-identical.
    *
    * At 100 TB: per-row explode with no shuffle before the final sort —
    * chunking parallelizes embarrassingly by document, and output
    * partitioning inherits the scan's. */
  def q74DocChunks(spark: SparkSession, dir: String): DataFrame = {
    val (chunk, stride) = (32, 24)
    withToks(Tables.documents(spark, dir))
      // 0-token docs yield no chunks: DuckDB's generate_series(0,-1,24)
      // is empty while Spark's sequence(0,-1,24) THROWS — the guard keeps
      // the engines agreeing (and the job alive) on empty texts
      .filter(size(col("t")) >= 1)
      .withColumn("start",
        explode(sequence(lit(0), size(col("t")) - 1, lit(stride))))
      .withColumn("ct", slice(col("t"), col("start") + 1, lit(chunk)))
      .select(col("doc_id"),
        floor(col("start") / lit(stride)).cast("bigint").as("chunk_id"),
        size(col("ct")).cast("bigint").as("n_tok"),
        array_join(col("ct"), " ").as("chunk"))
      .orderBy("doc_id", "chunk_id")
  }

  // --------------------------------------------------------------- q133
  /** q133 — PASSAGE retrieval over the chunk index (the RAG serving
    * granularity: retrieval happens over q74's context-window chunks,
    * because a 32-token passage about the query beats a 10k-token doc
    * that mentions it once — then results collapse to best-passage-
    * per-document, the max-passage aggregation every RAG stack runs):
    * each probe doc (doc_id < 3) scores every chunk of the rest of the
    * corpus by shared-distinct-token count (integer-exact), keeps each
    * document's BEST chunk (max score, earliest chunk on ties), and
    * ranks documents top-5 per probe, the winning passage's id and
    * score riding along. All integers → fully oracle-backed. At
    * 100 TB: the chunk inverted index is the stored artifact (q74's
    * chunking is deterministic), probe terms broadcast, one hash agg
    * per (probe, doc, chunk), and the per-doc collapse + top-5 move
    * only scored candidates. */
  def q133PassageSearch(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (chunkSz, stride) = (32, 24)
    val base = withToks(Tables.documents(spark, dir))
      .filter(size(col("t")) >= 1)
    val chunks = base.filter(col("doc_id") >= 3)
      .withColumn("start",
        explode(sequence(lit(0), size(col("t")) - 1, lit(stride))))
      .withColumn("ctok",
        array_distinct(slice(col("t"), col("start") + 1, lit(chunkSz))))
      .select(col("doc_id"),
        floor(col("start") / lit(stride)).cast("bigint").as("chunk_id"),
        explode(col("ctok")).as("tok"))
    val probes = base.filter(col("doc_id") < 3)
      .select(col("doc_id").as("probe_id"),
        explode(array_distinct(col("t"))).as("tok"))
    val scored = broadcast(probes).join(chunks, "tok")
      .groupBy("probe_id", "doc_id", "chunk_id")
      .agg(count(lit(1)).as("score"))
    val wDoc = Window.partitionBy(col("probe_id"), col("doc_id"))
      .orderBy(col("score").desc, col("chunk_id"))
    val best = scored.withColumn("rn", row_number().over(wDoc))
      .filter(col("rn") === 1)
    val wRank = Window.partitionBy(col("probe_id"))
      .orderBy(col("score").desc, col("doc_id"))
    best.withColumn("rank", row_number().over(wRank).cast("bigint"))
      .filter(col("rank") <= 5)
      .select(col("probe_id"), col("rank"), col("doc_id"), col("chunk_id"),
        col("score"))
      .orderBy("probe_id", "rank")
  }

  // ---------------------------------------------------------------- q75
  /** q75 — temperature-flattened mixture sampling: rebalance a
    * multilingual corpus by capping each language at
    * quota = ceil(8·√n) docs (α = 0.5 temperature — over-represented
    * languages are downsampled hardest, the standard multilingual-
    * pretraining mix). Selection is content-addressed and exact-k: the
    * quota smallest md5(doc_id) per language, so sample MEMBERSHIP is
    * reproducible and sits under the oracle hash (q54 samples by rate,
    * q69 by fixed k; this derives k from the data). √ and ceil are
    * correctly-rounded IEEE in both engines, so quotas agree exactly.
    *
    * Two-level exact-k (the q57 decomposition), because a single
    * per-lang window would funnel each language through ONE task at
    * corpus scale: level 1 ranks within (lang, source partition) —
    * parallelism = the scan's — and keeps each bucket's local
    * top-quota, a lossless superset of the global answer (any row in
    * the true per-lang top-quota is in its own bucket's top-quota);
    * level 2 ranks the ≤ partitions·quota survivors per lang. The
    * result is identical for ANY partition assignment (the q58
    * salt-invariance convention), so the nondeterministic
    * spark_partition_id never reaches the output. */
  def q75MixtureSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = md5(col("doc_id").cast("string").cast("binary"))
    val quotas = Tables.documents(spark, dir)
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .select(col("lang"),
        least(col("n"), ceil(lit(8) * sqrt(col("n")))).cast("bigint")
          .as("quota"))
    val wLocal = Window.partitionBy(col("lang"), col("pid"))
      .orderBy(col("key"), col("doc_id"))
    val wRank = Window.partitionBy(col("lang"))
      .orderBy(col("key"), col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("key", key)
      .withColumn("pid", spark_partition_id())
      .join(broadcast(quotas), "lang")
      .withColumn("lrn", row_number().over(wLocal))
      .filter(col("lrn") <= col("quota"))
      .withColumn("rnk", row_number().over(wRank).cast("bigint"))
      .filter(col("rnk") <= col("quota"))
      .select(col("lang"), col("rnk"), col("doc_id"), col("quota"))
      .orderBy("lang", "rnk")
  }

  // ---------------------------------------------------------------- q77
  /** q77 — PII redaction: the scrubbing pass of a training-data
    * pipeline. The corpus text is digit- and @-free, so deterministic
    * synthetic PII (an email and a phone derived from doc_id) is
    * appended first and then scrubbed back out with the generic
    * patterns a real pipeline would use; counts, lengths and the md5 of
    * the scrubbed text are all under the oracle hash, proving the
    * regex semantics match engine-for-engine (character classes only —
    * the portable subset of Java regex and RE2).
    *
    * At 100 TB: pure per-row map over the scan, no shuffle; regexes are
    * codegen'd string expressions, not UDFs. */
  def q77PiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
    val phoneRe = "[0-9]{3}-[0-9]{4}"
    val aug = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example or call "),
      (col("doc_id") % 900 + 100).cast("string"), lit("-"),
      lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0"))
    Tables.documents(spark, dir)
      .withColumn("aug", aug)
      .withColumn("clean",
        regexp_replace(regexp_replace(col("aug"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("aug"), lit(emailRe), lit(0)))
          .cast("bigint").as("n_emails"),
        size(regexp_extract_all(col("aug"), lit(phoneRe), lit(0)))
          .cast("bigint").as("n_phones"),
        length(col("aug")).cast("bigint").as("len_raw"),
        length(col("clean")).cast("bigint").as("len_clean"),
        md5(col("clean").cast("binary")).as("md5_clean"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q78
  /** q78 — n-gram novelty scoring: per document, the fraction of its
    * distinct 4-gram vocabulary it is the FIRST (min doc_id) to use —
    * the dedup-adjacent signal curation pipelines use to rank documents
    * by contribution of new content (a near-dup of an earlier doc
    * scores ~0). Basis points floored, q67's integer convention.
    *
    * At 100 TB: ONE corpus scan — the first owner is a min() window
    * over the gram partition (one hash shuffle keyed by gram, no
    * groupBy+join-back, which would re-scan and re-explode the corpus)
    * — then one agg shuffle by doc_id. No self-join, no all-pairs. */
  def q78NgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = col("t")
    val grams4 = array_distinct(transform(sequence(lit(1), size(t) - 3), i =>
      concat_ws(" ", element_at(t, i), element_at(t, i + 1),
        element_at(t, i + 2), element_at(t, i + 3))))
    val grams = withToks(Tables.documents(spark, dir))
      .filter(size(t) >= 4)
      .select(col("doc_id"), explode(grams4).as("g"))
    grams
      .withColumn("owner", min(col("doc_id")).over(Window.partitionBy(col("g"))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("owner") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_bp",
        floor(lit(10000) * col("n_novel") / col("n_grams")).cast("bigint"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        col("novelty_bp"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q79
  /** q79 — the curation pipeline END TO END as one declared plan:
    * quality gate (20 ≤ tokens ≤ 80) → exact dedup (keep min doc_id
    * per bag-of-words key, q47's rule) → per-lang quota cap (the
    * ceil(4·√n) smallest md5 keys of the SURVIVORS, q75's rule) →
    * per-lang corpus accounting (docs kept, tokens kept, 4096-token
    * shard count, q57's packing unit). One query proves the operators
    * COMPOSE — the property that makes the engine a pipeline engine
    * rather than a query collection; Catalyst fuses the whole chain
    * into one plan (the dedup agg, the two windows, and the final agg
    * share the pipeline; no materialization boundaries).
    *
    * At 100 TB each stage keeps the previous stage's partitioning
    * lineage: dedup shuffles by bow key, the quota window by lang,
    * the final agg reuses the lang partitioning. */
  def q79CurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bow = array_join(array_sort(array_distinct(col("t"))), " ")
    val gated = withToks(Tables.documents(spark, dir))
      .withColumn("n_tok", size(col("t")))
      .filter(col("n_tok").between(20, 80))
    val deduped = gated
      .withColumn("bow", bow)
      .groupBy(col("bow"))
      .agg(min(col("doc_id")).as("doc_id"),
        min_by(col("lang"), col("doc_id")).as("lang"),
        min_by(col("n_tok"), col("doc_id")).as("n_tok"))
    val wAll = Window.partitionBy(col("lang"))
    val wRank = Window.partitionBy(col("lang"))
      .orderBy(col("key"), col("doc_id"))
    deduped
      .withColumn("key", md5(col("doc_id").cast("string").cast("binary")))
      .withColumn("quota",
        least(count(lit(1)).over(wAll),
          ceil(lit(4) * sqrt(count(lit(1)).over(wAll)))).cast("bigint"))
      .withColumn("rnk", row_number().over(wRank).cast("bigint"))
      .filter(col("rnk") <= col("quota"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("bigint").as("n_tokens"),
        ceil(sum(col("n_tok")) / lit(4096.0)).cast("bigint").as("n_shards"))
      .orderBy("lang")
  }

  // ---------------------------------------------------------------- q84
  /** q84 — q13's per-lang top-5 tokens answered by the custom typed
    * TopKPairs Aggregator instead of a row_number window: the
    * Aggregator's k-bounded buffers combine MAP-SIDE, so at most
    * partitions × k rows per lang cross the shuffle — the window form
    * shuffles and sorts every (lang, token, n) row and discards all
    * but 5. Same rows, same order, same DuckDB oracle as q13 — the
    * hash match is the proof the Aggregator implements exactly the
    * declarative semantics. */
  def q84TopkAgg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    // the same Aggregator algebra through functions.udaf on an untyped
    // groupBy (q142's r18 transform): the groupByKey(_._1).mapValues
    // form ran the key/value extraction as two AppendColumns lambda
    // layers — a per-row object round-trip on every (lang, token, n)
    // row; the udaf route keys on the lang column natively and feeds
    // the identical reduce/merge/finish, so the ranking — and the
    // shared q13 oracle hash — is unchanged
    val topk = udaf(new graft.functions.TopKPairs(5),
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
    Tables.documents(spark, dir)
      .select(col("lang"), explode(toks).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("lang"))
      .agg(topk(col("token"), col("n")).as("top"))
      .select(col("lang"), posexplode(col("top.items")))
      .select(col("lang"), (col("pos") + 1).cast("bigint").as("rn"),
        col("col._1").as("token"), col("col._2").as("n"))
      .orderBy("lang", "rn")
  }

  // ---------------------------------------------------------------- q91
  /** q91 — the COMPLETE MinHash → banded-LSH → exact-verify near-dup
    * pipeline under the oracle hash. q26 is the engine-native variant
    * (xxhash64 signatures — fast, rows-only by necessity); this one
    * derives each of the 8 permutations from md5 ("perm i of shingle
    * s" = the first 15 hex chars of md5('i:' || s) as a 60-bit int),
    * which both Spark (conv(hex, 16, 10)) and DuckDB
    * ('0x' || hex :: BIGINT) compute bit-identically — so signatures,
    * band keys, candidates AND verified Jaccard all sit under the
    * driver's value hash. Two bands × 4 rows; verification counts
    * shared distinct shingles candidate-bounded, exactly q26's scale
    * shape (signatures in one agg pass — 8 min() columns, no
    * per-permutation explode; candidates from 16-byte band keys;
    * arrays never shuffle). */
  /** q122 — MinHash near-dup dedup MATERIALIZATION for documents
    * (q121's text-side twin; V14's last step on this modality): a
    * document is dropped iff it is the LARGER id in any q91 LSH
    * candidate pair whose VERIFIED Jaccard ≥ 0.8 (8000 bp — the
    * standard near-dup cutoff), so the retained corpus is exactly the
    * ids never seen as `doc_b` at the threshold. Keep-first is the
    * greedy policy production text dedups run; q55-style closure stays
    * the cluster view's job. Output pins membership per language:
    * kept count AND kept id-sum — dropping the wrong doc shifts its
    * lang's sum and breaks the oracle hash even when counts balance.
    * Scale shape is q91's (banded LSH candidates, df-bounded verify;
    * never all-pairs) plus one distinct + anti-join + hash agg. */
  def q122MinhashDedup(spark: SparkSession, dir: String): DataFrame = {
    val dropped = q91MinhashPortable(spark, dir)
      .filter(col("jac_bp") >= 8000)
      .select(col("doc_b").as("doc_id")).distinct()
    Tables.documents(spark, dir)
      .select("doc_id", "lang")
      .join(dropped, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
      .orderBy("lang")
  }

  /** Session cache for [[minhashBands]]' banded LSH keys — the same
    * per-(session, dir) build-once discipline [[shingleCache]] applies
    * to shingles (and SessionCache documents for LSH structures): the
    * 8-permutation md5 signature pass is the expensive half of every
    * MinHash query, and the band self-join's aliased sides defeat
    * exchange reuse, so an uncached plan computes it TWICE per run
    * (r18 profile: 2 × ~0.6 s parallel jobs inside q122). */
  private val bandsCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), (SparkSession, DataFrame)]

  /** Session cache for q129's [[admitSig]] signature index (same
    * discipline). */
  private val admitSigCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), (SparkSession, DataFrame)]

  /** q91's md5-portable MinHash band keys: 8 md5-derived permutation
    * minima folded into two 4-row band keys, one (doc_id, bk) row per
    * band. Shared by q91 (all-pairs candidates) and q126 (incremental
    * candidates — only new docs' keys probe). */
  private def minhashBands(inv: DataFrame): DataFrame = {
    val mins = (0 until 8).map(i => min(expr(
      s"CAST(conv(substr(md5(concat('$i:', s)), 1, 15), 16, 10) AS BIGINT)"))
      .as(s"h$i"))
    val sigs = inv.groupBy("doc_id").agg(mins.head, mins.tail: _*)
    sigs.select(col("doc_id"),
        md5(concat_ws(",", col("h0"), col("h1"), col("h2"), col("h3")))
          .as("b0"),
        md5(concat_ws(",", col("h4"), col("h5"), col("h6"), col("h7")))
          .as("b1"))
      .select(col("doc_id"), explode(array(
        concat(lit("0:"), col("b0")), concat(lit("1:"), col("b1"))))
        .as("bk"))
  }

  /** [[minhashBands]] over `dir`'s shingles, built once per (session,
    * dir) under `spark.graft.cacheTables` ([[shingleDocs]]'
    * convention); uncached callers still get the localCheckpoint so
    * the signature pass never runs twice inside one query's aliased
    * band self-join. */
  private def minhashBandsOf(spark: SparkSession, dir: String): DataFrame = {
    def build: DataFrame = minhashBands(shingleDocs(spark, dir)
      .select(col("doc_id"), explode(col("sh")).as("s")))
      .localCheckpoint()
    val caching =
      spark.conf.getOption("spark.graft.cacheTables").contains("true")
    if (!caching) build
    else graft.SessionCache.getOrBuild(bandsCache, spark, dir)(build)
  }

  def q91MinhashPortable(spark: SparkSession, dir: String): DataFrame = {
    val docs = shingleDocs(spark, dir)
    val inv = docs.select(col("doc_id"), explode(col("sh")).as("s"))
    val bands = minhashBandsOf(spark, dir)
    val cand = bands.select(col("bk"), col("doc_id").as("doc_a"))
      .join(bands.select(col("bk"), col("doc_id").as("doc_b")), Seq("bk"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .dropDuplicates("doc_a", "doc_b")
    val nSh = docs.select(col("doc_id"), size(col("sh")).as("n_sh"))
    val inter = cand
      .join(inv.select(col("doc_id").as("doc_a"), col("s")), Seq("doc_a"))
      .join(inv.select(col("doc_id").as("doc_b"), col("s")),
        Seq("doc_b", "s"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(nSh.select(col("doc_id").as("doc_a"), col("n_sh").as("na")),
        "doc_a")
      .join(nSh.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")),
        "doc_b")
      .withColumn("jac_bp", floor(lit(10000) * col("n_inter")
        / (col("na") + col("nb") - col("n_inter"))).cast("bigint"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("jac_bp"))
      .orderBy("doc_a", "doc_b")
  }

  // --------------------------------------------------------------- q126
  /** q126 — INCREMENTAL dedup: admit an incoming slice against an
    * already-deduplicated corpus, the shape a production pipeline runs
    * every ingest cycle (re-deduplicating the whole corpus per batch is
    * O(corpus) per day; probing the corpus's LSH index with only the
    * new docs' keys is O(slice)). The arrival split is content-derived
    * (`doc_id % 3 = 0` is the incoming slice, the rest the admitted
    * corpus); an incoming doc is REJECTED iff it has a verified
    * near-dup (q91's md5-portable pipeline, Jaccard ≥ 0.8) with ANY
    * corpus doc — the corpus is immutable, so order doesn't matter —
    * or with a SMALLER-id incoming doc (keep-first inside the batch,
    * q122's greedy policy). Only NEW docs' band keys enter the
    * candidate join (the corpus side is the stored index a real
    * deployment keeps materialized — q34's layout), and verification
    * touches candidates only. Output per lang: slice size, admitted
    * count, admitted id-sum (membership-pinning, q121/q122's
    * discipline). The oracle derives the same rejected set from q91's
    * full pair list with the membership predicates re-stated in SQL —
    * hash equality proves the incremental candidate restriction loses
    * no pair that matters and admits no near-dup. */
  def q126IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = shingleDocs(spark, dir)
    val inv = docs.select(col("doc_id"), explode(col("sh")).as("s"))
    val bands = minhashBandsOf(spark, dir)
    val isNew = (c: Column) => pmod(c, lit(3)) === 0
    // only the slice's keys probe; the full band table is the index
    val cand = bands.filter(isNew(col("doc_id")))
      .select(col("bk"), col("doc_id").as("doc_n"))
      .join(bands.select(col("bk"), col("doc_id").as("doc_o")), Seq("bk"))
      .filter(col("doc_o") =!= col("doc_n"))
      // qualifying partner: any corpus doc, or an earlier incoming doc
      .filter(!isNew(col("doc_o")) || col("doc_o") < col("doc_n"))
      .select("doc_n", "doc_o")
      .dropDuplicates("doc_n", "doc_o")
    val nSh = docs.select(col("doc_id"), size(col("sh")).as("n_sh"))
    val verified = cand
      .join(inv.select(col("doc_id").as("doc_n"), col("s")), Seq("doc_n"))
      .join(inv.select(col("doc_id").as("doc_o"), col("s")),
        Seq("doc_o", "s"))
      .groupBy("doc_n", "doc_o").agg(count(lit(1)).as("n_inter"))
      .join(nSh.select(col("doc_id").as("doc_n"), col("n_sh").as("nn")),
        "doc_n")
      .join(nSh.select(col("doc_id").as("doc_o"), col("n_sh").as("no")),
        "doc_o")
      .filter(floor(lit(10000) * col("n_inter")
        / (col("nn") + col("no") - col("n_inter"))) >= 8000)
    val rejected = verified.select(col("doc_n").as("doc_id")).distinct()
      .withColumn("rej", lit(1))
    Tables.documents(spark, dir)
      .filter(isNew(col("doc_id")))
      .select("doc_id", "lang")
      .join(rejected, Seq("doc_id"), "left_outer")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_new"),
        sum(when(col("rej").isNull, 1).otherwise(0)).cast("bigint")
          .as("n_admitted"),
        coalesce(sum(when(col("rej").isNull, col("doc_id"))), lit(0L))
          .cast("bigint").as("id_sum"))
      .orderBy("lang")
  }

  // --------------------------------------------------------------- q129
  /** Streaming near-dup ADMISSION (q126's deployment form — V14 × S6,
    * the op an ingest service runs on every arriving document): each
    * doc computes its md5-portable MinHash signature PER ROW (an
    * `array_min(transform(...))` projection over the shingle array —
    * no aggregation, so the stream needs no watermark to produce it)
    * and its band-0 bucket key; a stateful
    * `flatMapGroupsWithState` keyed by bucket holds the signatures of
    * every doc seen in that bucket and rejects an arrival iff some
    * EARLIER-seen bucket-mate agrees on ≥ 6 of the 8 signature minima
    * (estimated Jaccard ≥ 0.75 — signature-level verification, the
    * trade a streaming admitter makes: state stays 8 longs/doc instead
    * of the shingle sets exact verification would need). Docs too
    * short to shingle are admitted trivially and never enter state.
    *
    * The same entry point dispatches batch/streaming (q102's
    * convention): on a batch frame the fold runs per bucket over
    * id-ordered arrivals with empty prior state — giving the
    * deterministic id-order keep-first the ORACLE re-states
    * relationally (q129 is hash-green: per-row signatures are
    * md5-portable, so DuckDB rebuilds signature, bucket, agreement
    * count and the greedy rejection rule verbatim). StreamingSpec
    * equates a MemoryStream run (fed in id order) with the batch
    * result and pins CROSS-BATCH state: a batch-2 near-dup of a
    * batch-1 doc is rejected.
    *
    * At 100 TB: state is partitioned by bucket key (Spark's state
    * store shards it), per-bucket occupancy follows the LSH bucket
    * distribution (the q73 analysis), and each arrival touches exactly
    * its own bucket's state — no corpus-wide lookup anywhere.
    *
    * DEPLOYMENT CAVEAT — state grows WITHOUT BOUND by default, by
    * design: dedup means remembering every signature ever seen
    * (`GroupStateTimeout.NoTimeout`, 8 longs + an id per doc, one
    * `Seq` per bucket scanned linearly per arrival). LSH keeps
    * per-bucket occupancy small in expectation, but a forever-running
    * admitter's total state is proportional to everything it ever
    * admitted — an operator must size the state store for the corpus,
    * not the traffic. For feeds where bounded state matters more than
    * perfect recall of ancient duplicates, set
    * `spark.graft.admit.bucketCap = N` (default 0 = unbounded): each
    * bucket then retains only its N newest signatures,
    * oldest-first eviction, making state O(cap) per bucket at the
    * documented cost that a near-dup of an EVICTED document is
    * admitted again — a recall horizon, exactly the trade a TTL'd
    * dedup cache makes. The default path's semantics (and q129's
    * oracle) are unchanged. */
  /** The per-row signature frame [[neardupAdmit]] folds: (doc_id,
    * lang, n_sh, h0..h7) — the md5-portable minima computed as
    * per-row projections (no aggregation, so the stream needs no
    * watermark), shingle arrays dropped once hashed so the frame is
    * ten narrow columns per doc. Deterministic in the input. */
  private def admitSig(docs: DataFrame): DataFrame = {
    val base = withToks(docs).withColumn("sh", shingles)
    val hs = (0 until 8).map(i => expr(
      s"array_min(transform(sh, s -> CAST(conv(substr(md5(concat('$i:', s)" +
        s"), 1, 15), 16, 10) AS BIGINT)))").as(s"h$i"))
    base.select(col("doc_id") +: col("lang") +:
      size(col("sh")).as("n_sh") +: hs: _*)
  }

  def neardupAdmit(spark: SparkSession, docs: DataFrame)
      : Dataset[AdmitVerdict] = neardupAdmitFrom(spark, admitSig(docs))

  /** [[neardupAdmit]] from a prepared [[admitSig]] frame — the seam
    * that lets q129's batch prover reuse the session-cached signature
    * index (r18: the md5×8 projection was ~2/3 of the query, recomputed
    * per run over an immutable corpus) while the streaming path hashes
    * each arrival exactly once, as before. */
  private def neardupAdmitFrom(spark: SparkSession, sig: DataFrame)
      : Dataset[AdmitVerdict] = {
    import spark.implicits._
    val keyed = sig.filter(col("n_sh") > 0)
      .withColumn("bk",
        md5(concat_ws(",", col("h0"), col("h1"), col("h2"), col("h3"))))
      .select(col("doc_id"), col("lang"), col("bk"),
        array((0 until 8).map(i => col(s"h$i")): _*).as("sig"))
      .as[SigDoc]
    val trivial = sig.filter(col("n_sh") === 0)
      .select(col("doc_id"), col("lang")).as[(Long, String)]
      .map { case (id, lang) => AdmitVerdict(id, lang, admitted = true) }
    val cap = spark.conf.getOption("spark.graft.admit.bucketCap")
      .map(_.toInt).getOrElse(0)
    val verdicts =
      if (keyed.isStreaming)
        keyed.groupByKey(_.bk).flatMapGroupsWithState(
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (_: String, it: Iterator[SigDoc],
              state: GroupState[Seq[(Long, Seq[Long])]]) =>
            val (out, seen) = admitFold(
              state.getOption.getOrElse(Seq.empty),
              it.toSeq.sortBy(_.doc_id), cap)
            state.update(seen)
            out.iterator
        }
      else
        keyed.groupByKey(_.bk).flatMapGroups {
          (_: String, it: Iterator[SigDoc]) =>
            admitFold(Seq.empty, it.toSeq.sortBy(_.doc_id), cap)._1.iterator
        }
    verdicts.union(trivial)
  }

  /** [[neardupAdmit]]'s per-bucket greedy fold, factored out so the
    * eviction semantics are unit-testable on synthetic signatures:
    * reject an arrival iff ANY retained bucket-mate agrees ≥ 6/8;
    * every arrival enters state (q126's convention — rejection
    * compares against all seen, not only the admitted); with
    * `cap > 0` the state retains only the `cap` NEWEST entries
    * (oldest-first eviction — the bounded-state mode, applied as
    * arrivals land so batch and stream evict identically). */
  private[graft] def admitFold(prior: Seq[(Long, Seq[Long])],
      arrivals: Seq[SigDoc], cap: Int)
      : (Seq[AdmitVerdict], Seq[(Long, Seq[Long])]) = {
    def agree(a: Seq[Long], b: Seq[Long]): Int =
      a.iterator.zip(b.iterator).count(p => p._1 == p._2)
    var seen = prior
    val out = arrivals.map { d =>
      val rejected = seen.exists { case (_, s) => agree(s, d.sig) >= 6 }
      seen = seen :+ (d.doc_id -> d.sig)
      if (cap > 0 && seen.size > cap) seen = seen.takeRight(cap)
      AdmitVerdict(d.doc_id, d.lang, !rejected)
    }
    (out, seen)
  }

  /** q129 — the batch declaration of [[neardupAdmit]] under the oracle
    * hash: admission verdicts over the whole documents table (arrival
    * order = id order), reduced per lang to stream size, admitted
    * count, and admitted id-sum (q126's membership-pinning shape). */
  def q129StreamingAdmission(spark: SparkSession, dir: String): DataFrame = {
    // the signature index is deterministic in the corpus: build it
    // once per (session, dir) under cacheTables (shingleDocs'
    // convention); the admission fold itself runs per call
    def sig: DataFrame = {
      def build = admitSig(
        Tables.documents(spark, dir).select("doc_id", "lang", "text"))
        .localCheckpoint()
      if (!spark.conf.getOption("spark.graft.cacheTables").contains("true"))
        build
      else graft.SessionCache.getOrBuild(admitSigCache, spark, dir)(build)
    }
    neardupAdmitFrom(spark, sig)
      .toDF()
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("admitted"), 1).otherwise(0)).cast("bigint")
          .as("n_admitted"),
        coalesce(sum(when(col("admitted"), col("doc_id"))), lit(0L))
          .cast("bigint").as("id_sum"))
      .orderBy("lang")
  }

  // --------------------------------------------------------------- q128
  /** q128 — one-pass heavy hitters per language via the Misra–Gries
    * mergeable sketch (graft.functions.MisraGries): k=32 counters per
    * lang stream RAW tokens straight into the typed Aggregator — no
    * groupBy(token) ever happens, so nothing proportional to the
    * DISTINCT vocabulary shuffles or materializes. q13/q84 are the
    * exact twins (count then top-k); this is what replaces them when
    * the vocabulary itself is the scale problem (billions of distinct
    * n-grams): state is O(k) per group, partial buffers combine
    * map-side, and the summary still guarantees every token with true
    * share > 1/(k+1) survives with estimates undercounting by at most
    * the reported `err_bound`. Output: top-5 survivors per lang with
    * their estimate AND the group's error bound — the honest answer a
    * sketch owes its consumer. Rows-only (estimates are
    * partitioning-dependent); the spec pins the error CONTRACT
    * (est ≤ true ≤ est + err_bound) on the corpus and the
    * survival guarantee on synthetic skew. */
  def q128HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Encoders
    // functions.udaf on the untyped groupBy (q142's r18 transform):
    // same reduce/merge/finish, no AppendColumns key/value extraction
    // layers; the error CONTRACT the spec pins is partitioning-
    // independent and unchanged
    val mg = udaf(new graft.functions.MisraGries(32), Encoders.STRING)
    withToks(Tables.documents(spark, dir))
      .select(col("lang"), explode(col("t")).as("token"))
      .groupBy(col("lang"))
      .agg(mg(col("token")).as("sk"))
      .select(col("lang"), col("sk.delta").as("err_bound"),
        posexplode(col("sk.items")))
      .filter(col("pos") < 5)
      .select(col("lang"), (col("pos") + 1).cast("bigint").as("rn"),
        col("col._1").as("token"), col("col._2").as("est_n"),
        col("err_bound"))
      .orderBy("lang", "rn")
  }

  // ---------------------------------------------------------------- q89
  /** q89 — BPE vocabulary induction (tokenizer training, the flagship
    * preprocessing op of an LLM data pipeline): learn the first 10
    * merges over the corpus, exactly the Sennrich et al. (ACL 2016)
    * procedure. The distributed shape mirrors production BPE training:
    * the CORPUS-sized work is one hash agg (distinct word → count);
    * the merge loop then runs on that bounded word table — per
    * iteration, one weighted adjacent-pair count with the argmax
    * collected as a one-row bounded scalar (the q49-centroid
    * convention, not a data collect), and one distributed map applying
    * the merge left-to-right non-overlapping per word. Ties break
    * lexicographically so the learned merges are deterministic. No
    * oracle (10-round iterative argmax is not SQL-expressible);
    * the spec recomputes all 10 merges sequentially on the driver. */
  def q89BpeVocab(spark: SparkSession, dir: String): DataFrame =
    bpeVocab(spark, dir, driverLoopMaxVocab = 100000)

  /** The corpus-sized work — distinct word → count — is ONE distributed
    * hash agg either way. The merge loop then runs on that bounded word
    * table, and the implementation is chosen by its size, the same
    * adaptive call a production tokenizer trainer makes:
    *
    *   - vocab ≤ driverLoopMaxVocab: collect the word-count table (a
    *     bounded dimension build, the q49-centroid convention) and run
    *     the 10 rounds driver-side — zero cluster jobs per round, so
    *     the query is one agg + O(vocab·rounds) local work. Reference
    *     BPE trainers (Sennrich ACL'16 learn_bpe, SentencePiece) are
    *     exactly this shape: corpus pass distributed/streamed, merge
    *     loop on the in-memory word table.
    *   - larger vocabs (a 1e8+-row web-corpus word table that must NOT
    *     land on the driver): the distributed loop — per round, one
    *     pair-count agg with a TakeOrdered argmax, carrying the
    *     PERSISTED merged table forward so each round applies only its
    *     own merge, never re-folding prior rounds.
    *
    * Both paths share mergeWord and the (weight desc, left, right)
    * tiebreak, so the learned merges are identical; the spec equates
    * the two paths and pins both against a sequential reference run. */
  private[graft] def bpeVocab(spark: SparkSession, dir: String,
      driverLoopMaxVocab: Long): DataFrame = {
    import spark.implicits._
    val merges = 10
    // words split into CODE POINTS (not UTF-16 units: a supplementary
    // char must be one symbol, and lone surrogates would not survive
    // the distributed path's UTF-8 round-trip)
    val base = withToks(Tables.documents(spark, dir))
      .select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)]
      .map { case (w, c) =>
        (w.codePoints().toArray
          .map(cp => new String(Character.toChars(cp))) :+ "</w>", c) }
      .persist()
    val vocab = base.count()
    val learned =
      if (vocab <= driverLoopMaxVocab) {
        // the tiebreak MUST match the distributed path's
        // orderBy(weight desc, l, r) under UTF8_BINARY — hence
        // Utf8Order, never JVM compareTo (they disagree on
        // supplementary-plane vs private-use BMP symbols)
        val argmaxOrd: Ordering[((String, String), Long)] =
          Ordering.by[((String, String), Long), Long](-_._2)
            .orElseBy(_._1._1)(graft.functions.Utf8Order)
            .orElseBy(_._1._2)(graft.functions.Utf8Order)
        var words = base.collect() // bounded: vocab rows, checked above
        (1 to merges).map { rank =>
          val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
          words.foreach { case (sym, c) =>
            var i = 0
            while (i < sym.length - 1) {
              val k = (sym(i), sym(i + 1))
              pairs(k) = pairs.getOrElse(k, 0L) + c
              i += 1
            }
          }
          val ((a, b), weight) = pairs.min(argmaxOrd)
          words = words.map { case (sym, c) => (mergeWord(sym, a, b), c) }
          (rank.toLong, a, b, a + b, weight)
        }
      } else {
        var words = base // persisted; materialized lazily by its argmax scan
        var parent = base // still cached: words' one-map lineage root
        val out = (1 to merges).map { rank =>
          // ONE job per round: the argmax scan both counts pairs and
          // (first touch) materializes this round's merged table into
          // the cache — the parent stays cached until then, so the
          // recompute path is always one map off a cached table.
          val top = words
            .flatMap { case (sym, c) =>
              (0 until sym.length - 1).map(i => (sym(i), sym(i + 1), c)) }
            .toDF("l", "r", "c")
            .groupBy("l", "r").agg(sum(col("c")).as("weight"))
            .orderBy(col("weight").desc, col("l"), col("r"))
            .head() // bounded scalar: THE argmax pair of this round
          val (a, b, weight) =
            (top.getString(0), top.getString(1), top.getLong(2))
          if (!(parent eq words)) parent.unpersist()
          parent = words
          words = words.map { case (sym, c) => (mergeWord(sym, a, b), c) }
            .persist()
          (rank.toLong, a, b, a + b, weight)
        }
        parent.unpersist()
        words.unpersist()
        out
      }
    base.unpersist()
    spark.createDataFrame(learned)
      .toDF("merge_rank", "left", "right", "merged", "weight")
      .orderBy("merge_rank")
  }

  /** Greedy left-to-right non-overlapping application of merge (a, b). */
  private def mergeWord(sym: Array[String], a: String, b: String)
    : Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < sym.length) {
      if (i + 1 < sym.length && sym(i) == a && sym(i + 1) == b) {
        out += a + b; i += 2
      } else { out += sym(i); i += 1 }
    }
    out.toArray
  }

  // ---------------------------------------------------------------- q83
  /** q83 — per-source distribution drift (the data-quality monitor a
    * pipeline runs on every ingest batch): a chi-square-style score of
    * each source's token mix against the corpus mix, over the corpus's
    * top-20 tokens. ENTIRELY integer: with per-cell count c, source
    * total ns, token total ct and grand total n, each cell contributes
    * floor((c·n − ns·ct)² / floor(ns·ct·n / 10000)) — the ×10000
    * basis-point scale is divided INTO the denominator before the
    * floor, computed in DECIMAL(38,0) (exact to 1e38, matching DuckDB's
    * HUGEINT window-SUM promotion; overflow yields NULL and a visible
    * hash break rather than an int64 wrap). No transcendentals
    * anywhere, so the score is engine-exact.
    *
    * At 100 TB: one explode → (source, token) hash agg, MATERIALIZED
    * (bounded: sources × vocab) so the top-20 ranking, the subset join
    * and the grand total all branch from it rather than re-scanning
    * the corpus; the top-20 table is a TakeOrdered (tiny, broadcast
    * back); the marginal windows run over |sources|×20 rows. Nothing
    * scales with corpus size after the first agg. */
  def q83SourceDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnt = Tables.documents(spark, dir)
      .select(col("source"), explode(toks).as("t"))
      .groupBy("source", "t").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val top = cnt.groupBy("t").agg(sum(col("c")).as("ct_all"))
      .orderBy(col("ct_all").desc, col("t")).limit(20)
      .select("t")
    val sub = cnt.join(broadcast(top), "t")
    val withN = sub.crossJoin(broadcast(sub.agg(sum(col("c")).as("n"))))
      .withColumn("ns", sum(col("c")).over(Window.partitionBy("source")))
      .withColumn("ct", sum(col("c")).over(Window.partitionBy("t")))
    // DECIMAL(38,0) intermediates: DuckDB's window SUMs promote to
    // HUGEINT, so the squared diff must not wrap int64 silently on the
    // Spark side — decimal math is exact and raises the headroom from
    // 9.2e18 to 1e38 (and overflows to NULL→visible hash break, not a
    // silent wrap)
    withN
      .select(col("source"),
        col("c").cast("decimal(38,0)").as("c"),
        col("n").cast("decimal(38,0)").as("n"),
        col("ns").cast("decimal(38,0)").as("ns"),
        col("ct").cast("decimal(38,0)").as("ct"))
      .groupBy("source")
      .agg(
        expr("CAST(SUM((c*n - ns*ct)*(c*n - ns*ct) " +
          "DIV greatest((ns*ct*n) DIV 10000, 1)) AS BIGINT)").as("drift"),
        expr("CAST(MAX(abs(c*n - ns*ct) " +
          "DIV greatest((ns*n) DIV 10000, 1)) AS BIGINT)").as("max_token_bp"))
      .orderBy("source")
  }
  // ------------------------------------------- stored lexical index
  // q135's BM25 arm rebuilds its df-capped inverted index per query;
  // the production search tier maintains it as a STORED artifact that
  // ingest batches APPEND to — the text-side twin of the q136 vector
  // index. Layout under `out`, all hive-partitioned and generational:
  //
  //   postings/gen=N/b=K/  (tok, doc_id, tf, len)  token-hash buckets
  //   df/gen=N/b=K/        (tok, df)               per-gen df DELTAS
  //   stats/gen=N/         (n_docs, total_len)     per-gen deltas
  //   _GEN_COMMIT_N        marker, touched LAST per generation
  //
  // Every append is one new generation: data lands first, the marker
  // last, and readers take ONLY marker-committed generations — a torn
  // append is invisible (crash-safe by the sink's marker discipline,
  // without rename-overwrite). Per-doc length is denormalized into the
  // postings row, so scoring never joins a doc-length table. df is
  // stored as per-generation deltas and merged at read — the reader
  // only ever reads its PROBE TOKENS' df rows (bucket-pruned +
  // token-pushdown), so the merge is O(probe vocab × generations), and
  // the cap decision uses corpus-level df no matter how many appends
  // built the index. Scoring is q135's integer-exact BM25 shape, so a
  // stored-index search is hash-provable against the from-scratch
  // oracle — which is exactly what q138 does: build on ⅔ of the
  // corpus, append the rest, and hash-match the full-corpus ranking
  // (append-equivalence: A then B ≡ A ∪ B).

  private val lexBuckets = 64
  private val lexDfCap = 64

  /** Declared schemas for the stored lexical index's four tables —
    * fixed by the writers in this file, so every reader can skip the
    * per-DataFrame footer-inference job `spark.read.parquet` pays
    * (guide §6; the same move as the epoch sink's recorded `schema=`
    * line). `gen`/`b` are the partition directories and read as LONG
    * (the writers produce them as LONG). Each search/mutation ran 3-4
    * one-task inference jobs per invocation without this. */
  import org.apache.spark.sql.types.{StructType, StructField, LongType, StringType}
  private val lexPostingsSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("tok", StringType),
    StructField("tf", LongType), StructField("len", LongType),
    StructField("gen", LongType), StructField("b", LongType)))
  private val lexDfSchema = StructType(Seq(
    StructField("tok", StringType), StructField("df", LongType),
    StructField("gen", LongType), StructField("b", LongType)))
  private val lexStatsSchema = StructType(Seq(
    StructField("n_docs", LongType), StructField("total_len", LongType),
    StructField("gen", LongType)))
  private val lexTombSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("gen", LongType)))

  /** Range-writer task count for an index table write: bytes/target
    * with a small floor. Through r18 the floor was `lexBuckets` (64) —
    * but the bucket count is a HASH-SPACE constant, not a parallelism
    * constant: the range keys (b, tok) keep a bucket's rows contiguous,
    * so each bucket dir gets ~1 file at ANY task count, and a 64-task
    * write of a KB-scale generation paid ~56 idle task launches, twice
    * per mutation (postings + df). At 100 TB bytes/128 MB dominates the
    * floor and nothing changes. */
  private def lexWriterTasks(spark: SparkSession, df: DataFrame): Int = {
    val stat = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val bytes = if (stat >= BigInt(Long.MaxValue) / 2) 0L else stat.toLong
    SinkConf.of(spark).writers(bytes, math.min(lexBuckets.toLong, 8L))
  }

  private val LexMarker = "_GEN_COMMIT_"

  /** Every generation marker under the index, with the generations a
    * compaction's `replaces=` supersedes (see [[CommitLog.Generations]]:
    * readers serve its `committed` set, so the crash window between a
    * compaction's marker and its cleanup double-counts nothing). */
  private def lexGens(spark: SparkSession, out: String) =
    CommitLog.generations(fs(spark, out),
      new org.apache.hadoop.fs.Path(out), LexMarker)

  /** One generation's data directories across the four tables. */
  private def lexGenDirs(out: String, gen: Long) =
    Seq("postings", "df", "stats", "tomb")
      .map(part => new org.apache.hadoop.fs.Path(s"$out/$part/gen=$gen"))

  /** Mint the next generation of the index at `out` through
    * [[CommitLog.Generations.mint]] (clear its dirs, overlap `writes`,
    * marker last — so a marker carrying metadata lines, e.g.
    * [[syncLexicalIndex]]'s sink cursor, is never torn — and sweep
    * what a `replaces=` marker supersedes). `what` names the
    * generation in a failed install's refusal. */
  private def lexMint(marks: CommitLog.Generations, out: String,
      lines: Seq[String], what: Long => String)(
      writes: (Long => Unit)*): Long =
    marks.mint(lexGenDirs(out, _), lines,
      g => s"could not commit ${what(g)} at $out")(writes: _*)

  /** Space-split tokens per doc (q135's tokenizer — the index and the
    * from-scratch oracle must agree on token identity). */
  private def lexToks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(
      filter(split(col("text"), " "), t => t =!= lit(""))).as("tok"))

  private def lexAppendGen(spark: SparkSession, docs: DataFrame,
      out: String, marks: CommitLog.Generations, meta: Seq[String]): Unit = {
    // one tokenize+count pass feeds all three writes (postings, df,
    // stats) — without the lineage cut each write job would re-scan
    // and re-tokenize the batch (q57's localCheckpoint discipline)
    val tf = lexToks(docs).groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("len"))
    val postings = tf.join(dl, "doc_id")
      .withColumn("b", pmod(xxhash64(col("tok")), lit(lexBuckets)))
    // size-aware range writers (the sink discipline): keys ⊃ {b}, so a
    // hot bucket spans several sized files and b= pruning stays exact.
    // The three tables are independent given the checkpointed tf, so
    // their writes overlap (guide §2.6); the marker still lands only
    // after all three are joined
    val k = lexWriterTasks(spark, postings)
    val dfTab = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      .withColumn("b", pmod(xxhash64(col("tok")), lit(lexBuckets)))
    lexMint(marks, out, meta, g => s"lexical-index generation $g")(
      gen => postings.repartitionByRange(k, col("b"), col("tok"))
        .write.mode("overwrite").partitionBy("b")
        .parquet(s"$out/postings/gen=$gen"),
      gen => dfTab.repartitionByRange(lexWriterTasks(spark, dfTab),
          col("b"), col("tok"))
        .write.mode("overwrite").partitionBy("b")
        .parquet(s"$out/df/gen=$gen"),
      gen => dl.agg(count(lit(1)).as("n_docs"), sum("len").as("total_len"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$out/stats/gen=$gen"))
  }

  /** Build the stored lexical index from scratch (generation 0).
    * `meta` lines land in the commit marker (cursor/epoch lineage for
    * [[syncLexicalIndex]]) — atomic with the generation itself. */
  def writeLexicalIndex(spark: SparkSession, docs: DataFrame,
      out: String, meta: Seq[String] = Seq.empty): Unit = {
    fs(spark, out).delete(new org.apache.hadoop.fs.Path(out), true)
    lexAppendGen(spark, docs, out, lexGens(spark, out), meta)
  }

  /** Append an ingest batch as the next generation — O(batch) work,
    * never a corpus rewrite: the batch's postings/df/stats land in
    * their own gen= directories and the commit marker flips them
    * visible. The batch must be NEW doc_ids (an inverted index has no
    * in-place update; re-ingest = dedup upstream, q126's admission). */
  def appendLexicalIndex(spark: SparkSession, docs: DataFrame,
      out: String, meta: Seq[String] = Seq.empty): Unit = {
    val gens = lexGens(spark, out)
    require(gens.committed.nonEmpty,
      s"no committed lexical index at $out - writeLexicalIndex first")
    lexAppendGen(spark, docs, out, gens, meta)
  }

  /** The union of every active generation's tombstones, or None when
    * the index has never seen a delete (the common case pays no read).
    * Checked with [[CommitLog.hasGenDirs]] first because a compaction
    * sweep can leave `tomb/` empty. */
  private def lexTomb(spark: SparkSession, out: String,
      gens: Seq[Long]): Option[DataFrame] =
    if (!CommitLog.hasGenDirs(fs(spark, out),
      new org.apache.hadoop.fs.Path(s"$out/tomb"))) None
    else Some(spark.read.schema(lexTombSchema).parquet(s"$out/tomb")
      .filter(col("gen").isin(gens: _*))
      .select(col("doc_id"), col("gen").as("tomb_gen")))

  /** `p` minus tombstone-killed rows. A tombstone minted at generation
    * M kills the victim's postings from generations STRICTLY BEFORE M
    * and nothing newer — so a re-add after a delete, and the upsert's
    * own replacement postings (which land in the tombstone's very
    * generation), survive by construction. `p` must carry the `gen`
    * partition column. */
  private def lexSurvivors(p: DataFrame,
      tomb: Option[DataFrame]): DataFrame = tomb match {
    case None => p
    case Some(t) => p.join(t,
      p("doc_id") === t("doc_id") && p("gen") < t("tomb_gen"), "left_anti")
  }

  /** DELETE docs from the stored lexical index — Lucene's deleted-docs
    * model as a relational dataflow, the op a takedown or upstream
    * dedup decision forces on a serving index. A delete is O(victim
    * postings), never a corpus rewrite: it lands as one new GENERATION
    * holding (a) a `tomb/` doc_id list, (b) NEGATIVE df deltas — one
    * −1 per (token, victim) pair, computed from a single column-pruned
    * scan of the victims' own postings — and (c) negative n_docs /
    * total_len stats deltas, all flipped visible by the same
    * marker-last discipline as appends. Readers anti-join postings
    * against the tombstones and the existing delta-merge arithmetic
    * absorbs the negatives, so df, the df-cap decision, and the BM25
    * corpus statistics all score exactly the SURVIVOR corpus (q140
    * proves this to the bit against a from-scratch oracle).
    * Already-tombstoned and never-indexed doc_ids contribute nothing —
    * a replayed delete batch is idempotent, never a double-decrement.
    * [[compactLexicalIndex]] later folds tombstones away physically.
    * Returns the minted generation id (or the current max when the
    * batch matched nothing and no generation was minted). */
  def deleteFromLexicalIndex(spark: SparkSession, deletes: DataFrame,
      out: String): Long = {
    val marks = lexGens(spark, out)
    val gens = marks.committed
    require(gens.nonEmpty,
      s"no committed lexical index at $out - writeLexicalIndex first")
    val genF = col("gen").isin(gens: _*)
    val ids = deletes.select("doc_id").distinct()
    // one pruned scan of the victims' LIVE postings (the gen-scoped
    // tombstone rule already excludes earlier victims, so a replayed
    // delete batch and a never-indexed id both fall out here) feeds
    // all three delta writes (df, stats, tomb) — the localCheckpoint
    // cuts the lineage so each write job reuses it
    val hit = lexSurvivors(
        spark.read.schema(lexPostingsSchema).parquet(s"$out/postings").filter(genF)
          .select("b", "tok", "doc_id", "len", "gen"),
        lexTomb(spark, out, gens))
      .select("b", "tok", "doc_id", "len")
      .join(ids, "doc_id")
      .localCheckpoint()
    if (hit.isEmpty) return gens.max
    val dfNeg = hit.groupBy("b", "tok").agg((count(lit(1)) * -1L).as("df"))
    // three independent delta writes off the checkpointed hit frame
    // overlap (guide §2.6); marker still lands after the join
    lexMint(marks, out, Seq.empty, g => s"lexical-index delete generation $g")(
      gen => dfNeg.repartitionByRange(lexWriterTasks(spark, dfNeg),
          col("b"), col("tok"))
        .write.mode("overwrite").partitionBy("b")
        .parquet(s"$out/df/gen=$gen"),
      gen => hit.select("doc_id", "len").distinct()
        .agg((count(lit(1)) * -1L).as("n_docs"),
          (sum("len") * -1L).as("total_len"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$out/stats/gen=$gen"),
      gen => hit.select("doc_id").distinct()
        .write.mode("overwrite").parquet(s"$out/tomb/gen=$gen"))
  }

  /** UPSERT docs into the stored lexical index — Lucene's update-
    * document (delete + add under one sequence point) as a relational
    * dataflow: the op a content refresh or re-crawl forces on a
    * serving index, where "replace doc 7's text" must never leave a
    * window with doc 7 missing or doubled. ONE generation carries the
    * whole mutation atomically: (a) the batch's NEW postings/df/stats,
    * (b) a `tomb/` list of the REPLACED doc_ids (only those currently
    * live — never-indexed and already-deleted ids take the pure-insert
    * path), and (c) df/stats deltas NETTED across both sides (new
    * positives + victim negatives collapse per token; identical
    * re-upserts net to zero and drop out). The gen-scoped tombstone
    * rule ([[lexSurvivors]] — a tomb at generation M kills postings
    * from generations < M only) is what makes this sound: the victims'
    * old postings die while the replacements, landing in the
    * tombstone's own generation, survive. Marker lands LAST, so a torn
    * upsert is invisible; a REPLAYED upsert re-replaces the committed
    * content with itself — every df/stats delta nets to zero and the
    * search result is identical (TextOpsSpec pins it). Cost is
    * O(batch + victim postings), never a corpus rewrite. Returns the
    * minted generation id (or the current max on an empty batch). */
  def upsertLexicalIndex(spark: SparkSession, docs: DataFrame,
      out: String, meta: Seq[String] = Seq.empty): Long = {
    import spark.implicits._
    val marks = lexGens(spark, out)
    val gens = marks.committed
    require(gens.nonEmpty,
      s"no committed lexical index at $out - writeLexicalIndex first")
    val batch = docs.select("doc_id", "text")
    if (batch.isEmpty) return gens.max
    val genF = col("gen").isin(gens: _*)
    val ids = batch.select("doc_id").distinct()
    // victims (the batch ids' currently-LIVE postings, one pruned
    // scan) and the new content's tokenize+count pass are independent,
    // so their checkpoint materializations overlap (Par.all)
    var victims: DataFrame = null
    var tf: DataFrame = null
    Par.all(
      () => victims = lexSurvivors(
          spark.read.schema(lexPostingsSchema).parquet(s"$out/postings")
            .filter(genF)
            .select("b", "tok", "doc_id", "len", "gen"),
          lexTomb(spark, out, gens))
        .select("b", "tok", "doc_id", "len")
        .join(ids, "doc_id")
        .localCheckpoint(),
      () => tf = lexToks(batch).groupBy("doc_id", "tok")
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint())
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("len"))
    val postings = tf.join(dl, "doc_id")
      .withColumn("b", pmod(xxhash64(col("tok")), lit(lexBuckets)))
    val k = lexWriterTasks(spark, postings)
    // df: new positives and victim negatives net per (bucket, token);
    // exact zero nets drop — identical content re-upserts leave df
    // untouched and fully-swapped tokens carry both signs correctly
    val dfNet = postings.groupBy("b", "tok").agg(count(lit(1)).as("df"))
      .unionByName(victims.groupBy("b", "tok")
        .agg((count(lit(1)) * -1L).as("df")))
      .groupBy("b", "tok").agg(sum("df").as("df"))
      .filter(col("df") =!= 0)
    // the four tables are independent given the checkpointed tf and
    // victims frames, so their writes overlap (guide §2.6); the marker
    // still lands only after all four are joined, so the delete side
    // and the add side flip visible as one.
    // stats: net deltas — n_docs grows only by the true inserts,
    // total_len by (new lengths − replaced lengths); the victim and
    // batch aggregates are each a single row, so a crossJoin folds
    // them into one job (r18), now running inside its own slot
    lexMint(marks, out, meta, g => s"lexical-index upsert generation $g")(
      gen => postings.repartitionByRange(k, col("b"), col("tok"))
        .write.mode("overwrite").partitionBy("b")
        .parquet(s"$out/postings/gen=$gen"),
      gen => dfNet.repartitionByRange(lexWriterTasks(spark, dfNet),
          col("b"), col("tok"))
        .write.mode("overwrite").partitionBy("b")
        .parquet(s"$out/df/gen=$gen"),
      gen => {
        val nets = dl.agg(count(lit(1)).as("n"),
            coalesce(sum("len"), lit(0L)).as("l"))
          .crossJoin(victims.select("doc_id", "len").distinct()
            .agg(count(lit(1)).as("vn"),
              coalesce(sum("len"), lit(0L)).as("vl")))
          .head()
        Seq((nets.getLong(0) - nets.getLong(2),
            nets.getLong(1) - nets.getLong(3)))
          .toDF("n_docs", "total_len")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$out/stats/gen=$gen")
      },
      gen => victims.select("doc_id").distinct()
        .write.mode("overwrite").parquet(s"$out/tomb/gen=$gen"))
  }

  /** Fold every active generation of the stored lexical index into ONE
    * (Lucene's segment merge, the maintenance that bounds the
    * reader's gens factor after many appends): merged postings
    * rewrite through the sized bucket writers, df deltas collapse to
    * one per-bucket table, stats to one row — all under a NEW
    * generation, invisible until its marker lands. The marker carries
    * `replaces=<old gens>`, so visibility flips ATOMICALLY: readers in
    * the crash window between marker and cleanup see exactly the new
    * generation, never both sides. Cleanup (idempotent, re-swept by
    * the next compaction) then drops the superseded directories and
    * markers. Cost is O(index) — an index compaction is a rewrite by
    * nature; appends stay O(batch). Returns the surviving generation
    * id; a single-generation index is a no-op. */
  def compactLexicalIndex(spark: SparkSession, out: String): Long = {
    // sweep any prior compaction's unfinished cleanup first
    lexGens(spark, out).retire(lexGenDirs(out, _))
    val marks = lexGens(spark, out)
    val active = marks.committed
    require(active.nonEmpty, s"no committed lexical index at $out")
    if (active.size == 1) return active.head
    val genF = col("gen").isin(active: _*)
    // fold tombstones away physically: the merged generation carries
    // neither the victims' postings nor any tomb rows, and the df sum
    // (positive deltas minus the deletes' negatives) is exactly the
    // survivor df — fully-deleted tokens drop out of the df table
    val tomb = lexTomb(spark, out, active)
    val basePostings = spark.read.schema(lexPostingsSchema).parquet(s"$out/postings").filter(genF)
      .select("tok", "doc_id", "tf", "len", "b", "gen")
    val postings = lexSurvivors(basePostings, tomb).drop("gen")
    val k = lexWriterTasks(spark, postings)
    val dfFold = spark.read.schema(lexDfSchema).parquet(s"$out/df")
      .filter(genF)
      .groupBy("b", "tok").agg(sum("df").as("df"))
      .filter(col("df") > 0)
    // the three merged tables read disjoint inputs: overlap their
    // writes; the replaces-marker lands after the join — an atomic
    // flip superseding the old gens. Sync lineage CARRIES FORWARD (the
    // folded generations' max cursor/epoch) — without it the next
    // syncLexicalIndex would re-append already-indexed batches. The
    // mint's cleanup then drops the superseded gens (re-run at the next
    // compaction, so a crash mid-sweep only defers garbage, never
    // correctness).
    lexMint(marks, out,
        s"replaces=${active.mkString(",")}" +: marks.carriedLineage,
        _ => "lexical-index compaction")(
      gen => postings.repartitionByRange(k, col("b"), col("tok"))
        .write.mode("overwrite").partitionBy("b")
        .parquet(s"$out/postings/gen=$gen"),
      gen => dfFold.repartitionByRange(lexWriterTasks(spark, dfFold),
          col("b"), col("tok"))
        .write.mode("overwrite").partitionBy("b")
        .parquet(s"$out/df/gen=$gen"),
      gen => spark.read.schema(lexStatsSchema).parquet(s"$out/stats")
        .filter(genF)
        .agg(sum("n_docs").as("n_docs"), sum("total_len").as("total_len"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$out/stats/gen=$gen"))
  }

  /** BM25 top-k per probe against the STORED index: the probe's
    * distinct tokens become static pushdown filters (bucket dirs +
    * token predicate — two bounded collects of the probe's own vocab),
    * their corpus df merges from the per-gen deltas, tokens over the
    * df-cap never generate candidates, and q135's integer-exact score
    * ranks. Only marker-committed generations are read, so a torn
    * append is invisible. Probes frame: (probe_id, text). */
  def searchLexicalIndex(spark: SparkSession, probes: DataFrame,
      out: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gens = lexGens(spark, out).committed
    require(gens.nonEmpty, s"no committed lexical index at $out")
    val genF = col("gen").isin(gens: _*)
    val ptoks = lexToks(probes
        .select(col("probe_id").as("doc_id"), col("text")))
      .select(col("doc_id").as("probe_id"), col("tok")).distinct()
    // the probe's vocabulary — bounded by the probe docs themselves
    val ptokRows = ptoks
      .withColumn("b", pmod(xxhash64(col("tok")), lit(lexBuckets)))
      .select("tok", "b").distinct().collect()
    val tokList = ptokRows.map(_.getString(0)).toSeq
    val bList = ptokRows.map(_.getLong(1)).distinct.toSeq
    // token restriction: an IN literal list plans as parquet pushdown
    // (dictionary/row-group filtering at the scan) and is ideal for an
    // interactive probe's vocabulary, but a thousand-term probe set
    // bloats the plan text and analysis time — past the threshold the
    // SAME restriction ships as a broadcast semi-join instead (the r14
    // watch item). Bucket pruning (bList) stays a literal either way:
    // it is bounded by the bucket count, never the vocabulary.
    val maxIsin = spark.conf.getOption("spark.graft.lex.maxIsinTerms")
      .map(_.toInt).getOrElse(512)
    val tokSet = broadcast(ptoks.select("tok").distinct())
    def tokRestricted(df: DataFrame): DataFrame =
      if (tokList.size <= maxIsin) df.filter(col("tok").isin(tokList: _*))
      else df.join(tokSet, Seq("tok"), "left_semi")
    val dfTab = tokRestricted(spark.read.schema(lexDfSchema).parquet(s"$out/df")
        .filter(genF && col("b").isin(bList: _*)))
      .groupBy("tok").agg(sum("df").as("df"))
      .filter(col("df") <= lexDfCap)
    val stats = spark.read.schema(lexStatsSchema).parquet(s"$out/stats").filter(genF)
      .agg(sum("n_docs").as("n_docs"), sum("total_len").as("total_len"))
    val candidates = tokRestricted(spark.read.schema(lexPostingsSchema).parquet(s"$out/postings")
      .filter(genF && col("b").isin(bList: _*)))
    // deleted docs never become candidates: anti-join the tombstones
    // AFTER the token pushdown, so the probe-bounded candidate set —
    // not the whole index — pays the check (no-delete indexes have no
    // tomb/ directory and skip the join entirely)
    val postings = lexSurvivors(candidates, lexTomb(spark, out, gens))
    val scored = postings.join(broadcast(dfTab), "tok")
      .join(broadcast(ptoks), "tok")
      .filter(col("doc_id") =!= col("probe_id"))
      .crossJoin(broadcast(stats))
      .withColumn("score_t", floor(
        (lit(10000L) * col("n_docs") * col("tf") * col("total_len")) /
          (col("df") * (col("tf") * col("total_len") +
            lit(2L) * col("len") * col("n_docs")))))
      .groupBy("probe_id", "doc_id").agg(sum("score_t").as("score_bp"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("score_bp").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("doc_id"), col("score_bp"))
  }

  private def lexScratch(spark: SparkSession, dir: String,
      prefix: String): String =
    SharedArtifacts.scratchPath(spark, dir, "graft_lex_index", prefix)

  /** The SHARED two-generation BM25 base the lexical lifecycle provers
    * start from — built ONCE per session ([[SharedArtifacts]];
    * the r14 verdict's bench-curve item: q138/q139/q140/q153 each
    * re-tokenized and re-indexed the same corpus into private
    * scratches): [[writeLexicalIndex]] on the even docs, then
    * [[appendLexicalIndex]] the odd docs as a second generation —
    * O(batch), no corpus rewrite. READ-ONLY consumers (q138's search)
    * use it in place; MUTATING provers (q139 compact, q140 delete,
    * q153 upsert) clone it into their private scratch first. Because
    * append-equivalence holds (q138's hash proof), every consumer's
    * results are identical to what a private build produced. */
  private def sharedLexBase(spark: SparkSession, dir: String): String =
    SharedArtifacts.once(spark, dir, "bm25_base") { out =>
      val docs = Tables.documents(spark, dir).select("doc_id", "text")
      writeLexicalIndex(spark,
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), out)
      appendLexicalIndex(spark,
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), out)
    }

  /** q138 — the stored lexical index's SERVING + MAINTENANCE lifecycle
    * under the oracle hash: build the index on half the corpus
    * ([[writeLexicalIndex]]), APPEND the other half as a second
    * generation ([[appendLexicalIndex]] — O(batch), no corpus
    * rewrite; the [[sharedLexBase]] artifact), and search the probes
    * (docs 0–4) against the stored, merged index. The oracle
    * re-derives the SAME BM25 ranking from the full documents table
    * from scratch, so hash equality proves APPEND-EQUIVALENCE — an
    * index built on A then appended B ranks identically to one built
    * on A ∪ B: per-gen df deltas merge to corpus df, stats deltas to
    * corpus stats, and the cap decision is corpus-level — plus the
    * search semantics themselves (q135's integer-exact scoring, so
    * both engines agree to the bit). */
  def q138StoredLexical(spark: SparkSession, dir: String): DataFrame = {
    val out = sharedLexBase(spark, dir)
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    searchLexicalIndex(spark,
      docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("probe_id"), col("text")), out)
      .orderBy("probe_id", "rank")
  }

  /** q139 — the stored lexical index's COMPACTION lifecycle under the
    * oracle hash (q138 proved append-equivalence; this proves the
    * maintenance op that keeps appends cheap forever): two
    * generations land (build + append — a private clone of
    * [[sharedLexBase]]), [[compactLexicalIndex]]
    * folds them into one — merged postings rewrite, df deltas
    * collapsed, atomic replaces-marker flip, superseded generations
    * swept — and the search against the COMPACTED index must still
    * hash-match the oracle's from-scratch full-corpus ranking: the
    * merge lost no posting, double-counted no df delta, and left the
    * reader exactly one generation to plan over. */
  def q139LexicalCompaction(spark: SparkSession, dir: String): DataFrame = {
    val out = SharedArtifacts.cloneTo(spark, sharedLexBase(spark, dir),
      lexScratch(spark, dir, "bm25c"))
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    compactLexicalIndex(spark, out)
    searchLexicalIndex(spark,
      docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("probe_id"), col("text")), out)
      .orderBy("probe_id", "rank")
  }

  /** q140 — DELETE from the stored lexical index under the oracle
    * hash, completing the index lifecycle (build/append q138, compact
    * q139, delete here): from a private clone of [[sharedLexBase]]
    * (built on the even docs, appended the odd),
    * [[deleteFromLexicalIndex]] the `doc_id % 7 = 3` cohort — one
    * tombstone generation carrying negative df/stats deltas, O(victim
    * postings), no corpus rewrite — and search the same five probes
    * against the stored index. The oracle re-derives the BM25 ranking
    * from scratch over ONLY the surviving docs (probes still come
    * from the full table: probing with a deleted doc's text is an
    * ordinary query, and doc 3 is exactly that), so hash equality
    * proves DELETE-EQUIVALENCE to the bit: tombstoned docs never
    * surface as candidates, merged df and the df-cap decision score
    * the survivor corpus, and n_docs/total_len shrink exactly. */
  def q140LexicalDelete(spark: SparkSession, dir: String): DataFrame = {
    val out = SharedArtifacts.cloneTo(spark, sharedLexBase(spark, dir),
      lexScratch(spark, dir, "bm25x"))
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    deleteFromLexicalIndex(spark,
      docs.filter(pmod(col("doc_id"), lit(7)) === 3).select("doc_id"), out)
    searchLexicalIndex(spark,
      docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("probe_id"), col("text")), out)
      .orderBy("probe_id", "rank")
  }

  /** q153 — UPSERT into the stored lexical index under the oracle
    * hash, completing the index lifecycle (build/append q138, compact
    * q139, delete q140, update-document here): from a private clone
    * of [[sharedLexBase]] (built on the even docs, appended the odd),
    * [[upsertLexicalIndex]] one batch that
    * REPLACES the `doc_id % 5 = 2` cohort's text (two appended `zq`
    * tokens — at corpus scale the new token's df crosses the cap and
    * must be capped identically on both engines) and INSERTS a
    * re-keyed fresh cohort (`doc_id % 9 = 4`, +1 000 000), one marker,
    * and search the five probes. The oracle re-derives the BM25
    * ranking from scratch over the POST-UPSERT corpus (survivors ∪
    * replaced-content ∪ inserts): hash equality proves
    * UPSERT-EQUIVALENCE to the bit — old versions never surface, new
    * versions score with netted df and corpus stats, inserts rank as
    * if always present. */
  def q153LexicalUpsert(spark: SparkSession, dir: String): DataFrame = {
    val out = SharedArtifacts.cloneTo(spark, sharedLexBase(spark, dir),
      lexScratch(spark, dir, "bm25u"))
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val updated = docs.filter(pmod(col("doc_id"), lit(5)) === 2)
      .select(col("doc_id"), concat(col("text"), lit(" zq zq")).as("text"))
    val inserted = docs.filter(pmod(col("doc_id"), lit(9)) === 4)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    upsertLexicalIndex(spark, updated.unionByName(inserted), out)
    searchLexicalIndex(spark,
      docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("probe_id"), col("text")), out)
      .orderBy("probe_id", "rank")
  }

  /** One metadata row for operators ([[Streaming.describeSink]]'s
    * convention for the stored lexical index): committed generation
    * count and max id, the sync lineage (cursor/epoch, −1 before the
    * first [[syncLexicalIndex]]), tombstone presence, and total bytes
    * on disk. Listings and content summaries only — no data I/O. */
  def describeLexicalIndex(spark: SparkSession, out: String): DataFrame = {
    import spark.implicits._
    val marks = lexGens(spark, out)
    val gens = marks.committed
    require(gens.nonEmpty, s"no committed lexical index at $out")
    val (cursor, epoch) = marks.syncState
    val f = fs(spark, out)
    val tombs =
      CommitLog.hasGenDirs(f, new org.apache.hadoop.fs.Path(s"$out/tomb"))
    val bytes = f.getContentSummary(
      new org.apache.hadoop.fs.Path(out)).getLength
    Seq((gens.size.toLong, gens.max, cursor, epoch, tombs, bytes))
      .toDF("gens_kept", "current_gen", "cursor", "epoch",
        "has_tombstones", "bytes")
  }

  /** Policy-driven index maintenance — [[Streaming.maintainSink]]'s
    * cron discipline for the stored lexical index: COMPACT when the
    * committed generation count (appends AND tombstone deletes — every
    * lifecycle op mints one) reaches `compactAfterGens`, folding them
    * into a single generation (merged postings, collapsed df deltas,
    * tombstones dropped physically, sync lineage carried forward).
    * Below the threshold the only work is one marker listing, so a
    * steady-state cron costs nothing. Returns the actions taken. */
  def maintainLexicalIndex(spark: SparkSession, out: String,
      compactAfterGens: Int = 8): Seq[String] = {
    require(compactAfterGens > 1,
      s"compactAfterGens must be > 1, got $compactAfterGens")
    val gens = lexGens(spark, out).committed
    require(gens.nonEmpty, s"no committed lexical index at $out")
    if (gens.size < compactAfterGens) Seq.empty
    else {
      val g = compactLexicalIndex(spark, out)
      Seq(s"compacted=${gens.size}->gen=$g")
    }
  }

  /** Keep the stored lexical index in step with a document SINK — the
    * op a pipeline runs every ingest cycle, closing the loop between
    * the warehouse lifecycle (q115–q119) and the stored index
    * (q138–q140): consume exactly the sink's committed batch delta
    * past the index's recorded cursor and [[appendLexicalIndex]] it as
    * one generation whose marker carries the new cursor ATOMICALLY
    * (the cursor travels in the generation's own commit — a crash
    * between "append" and "record position" cannot exist, so a re-run
    * never double-indexes a batch; [[compactLexicalIndex]] carries the
    * lineage forward when it folds generations). First sync on a
    * missing index is a FULL BUILD from a pinned read of the sink's
    * current content (epoch + committed live batches — one driver
    * listing fixes both the docs read and the cursor recorded, the
    * Views discipline).
    *
    * Soundness is REFUSED, not guessed, in the two states an append
    * stream cannot express (same lattice as [[Views.refreshView]], but
    * an index rebuild is expensive, so the caller decides):
    *  - the cursor fell behind the sink's compaction horizon (batch
    *    boundaries gone — sync more often than the sink compacts);
    *  - a non-compact epoch landed since the last sync (delete/upsert
    *    /retire mutate content; rebuild, or apply
    *    [[deleteFromLexicalIndex]] for the affected ids and advance
    *    with a fresh sink).
    *
    * Returns (current max generation, mode ∈ build|append|noop). */
  def syncLexicalIndex(spark: SparkSession, sink: String, out: String)
      : (Long, String) = {
    val marks = lexGens(spark, out)
    val gens = marks.committed
    val cut = Streaming.cutOf(spark, sink)
    if (gens.isEmpty) {
      val (rows, cursor, epoch) = Views.pinnedFullRead(spark, cut, "ts")
      writeLexicalIndex(spark, rows.select("doc_id", "text"), out,
        Seq(s"cursor=$cursor", s"epoch=$epoch"))
      (0L, "build")
    } else {
      val (c, e0) = marks.syncState
      require(Views.incrementalSound(spark, cut, e0, c),
        s"cannot sync $out from $sink: the sink compacted past cursor " +
          s"$c or mutated content (delete/upsert/retire) since epoch " +
          s"$e0 - an append stream cannot express either; rebuild the " +
          "index, or deleteFromLexicalIndex the affected ids and " +
          "restart the cursor from a fresh build")
      val (deltaOpt, newCursor) = Views.pinnedDelta(spark, cut, c, "ts")
      deltaOpt match {
        case None => (gens.max, "noop")
        case Some(delta) =>
          appendLexicalIndex(spark, delta.select("doc_id", "text"), out,
            Seq(s"cursor=$newCursor", s"epoch=${cut.epoch}"))
          (gens.max + 1, "append")
      }
    }
  }

  /** q145 — the SINK→INDEX incremental pipeline END TO END under the
    * oracle hash (the composition op of the round: q118 proved the
    * sink serves O(delta) increments, q138 proved the index absorbs
    * O(batch) appends — this proves the loop that connects them, run
    * every ingest cycle): two document slices land as committed
    * micro-batches, the FIRST [[syncLexicalIndex]] full-builds the
    * stored index and records its cursor, the third slice arrives,
    * and the SECOND sync appends EXACTLY that delta (the query asserts
    * the build/append modes and that a third, immediate sync is a
    * noop — an indexer that silently re-reads the corpus would be a
    * correct answer proving nothing). The search against the synced
    * index hash-matches q138's from-scratch full-corpus BM25 ranking:
    * the pipeline lost no document, double-indexed none, and the
    * stored scoring is bit-equal to the one-shot build's. */
  def q145PipelineIndex(spark: SparkSession, dir: String): DataFrame = {
    // the SHARED pipe base pays the two-slice ingest and the first
    // sync's full BM25 build once per session; the build mode is
    // asserted there ([[sharedPipeBase]]). This query clones it (it
    // MUTATES both the sink and the index) and proves the remaining
    // append -> noop half of the cycle live.
    val root = SharedArtifacts.cloneTo(spark, sharedPipeBase(spark, dir),
      Streaming.scratchSink(spark, dir, "docs_pipe"))
    val sink = s"$root/sink"
    val out = s"$root/idx"
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    Streaming.writeBatchIdempotent(
      docs.filter(pmod(col("doc_id"), lit(3)) === 2), sink, 2L)
    val (_, m2) = syncLexicalIndex(spark, sink, out)
    val (_, m3) = syncLexicalIndex(spark, sink, out)
    require(m2 == "append" && m3 == "noop",
      s"q145 must exercise the (build->)append->noop cycle, got $m2/$m3")
    searchLexicalIndex(spark,
      docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("probe_id"), col("text")), out)
      .orderBy("probe_id", "rank")
  }

  /** The SHARED sink+index pipeline base q145 clones: two document
    * slices as committed micro-batches and the FIRST
    * [[syncLexicalIndex]] — the full BM25 build with its recorded
    * cursor — paid once per session. The build mode is asserted here
    * so the cycle's first leg stays proven. */
  private def sharedPipeBase(spark: SparkSession, dir: String): String =
    SharedArtifacts.once(spark, dir, "bm25_pipe") { root =>
      val sink = s"$root/sink"
      val out = s"$root/idx"
      val docs = Tables.documents(spark, dir).select("doc_id", "text")
      Streaming.writeBatchIdempotent(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0), sink, 0L)
      Streaming.writeBatchIdempotent(
        docs.filter(pmod(col("doc_id"), lit(3)) === 1), sink, 1L)
      val (_, m1) = syncLexicalIndex(spark, sink, out)
      require(m1 == "build",
        s"the shared pipe base's first sync must full-build, got $m1")
    }

}

/** Deterministic 64-bit hashing used by the Spark-only text ops
  * (public-knowledge constructions: splitmix64 finalizer, FNV-1a string
  * hash, Karp-Rabin polynomial hash, winnowing). */
object Hash64 {
  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** FNV-1a over UTF-8 bytes. */
  def stringHash(s: String): Long = {
    var h = 0xcbf29ce484222325L
    s.getBytes("UTF-8").foreach { b =>
      h ^= (b & 0xffL)
      h *= 0x100000001b3L
    }
    h
  }

  private val M61 = (1L << 61) - 1

  /** (a*b) mod (2^61−1) for 0 ≤ a,b < 2^61−1, via the Mersenne identity
    * 2^61 ≡ 1: the 128-bit product hi·2^64 + lo folds to
    * hi·8 + (lo >>> 61) + (lo & M61). */
  private def mulMod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    var r = (hi << 3) + (lo >>> 61) + (lo & M61)
    while (r >= M61) r -= M61
    r
  }

  /** Karp-Rabin polynomial hash of the whole string (base 257, mod
    * 2^61−1). */
  def polyHash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) {
      h = mulMod(h, 257L) + s.charAt(i).toLong
      if (h >= M61) h -= M61
      i += 1
    }
    h
  }

  /** Winnowing (Schleimer et al., SIGMOD'03): k-gram Karp-Rabin hashes,
    * min of each window of w consecutive hashes, deduplicated, sorted. */
  def winnow(s: String, k: Int, w: Int): Array[Long] = {
    if (s.length < k) return Array.empty
    val grams = Array.tabulate(s.length - k + 1)(i => polyHash(s.substring(i, i + k)))
    if (grams.length <= w) return Array(grams.min).distinct
    val out = scala.collection.mutable.SortedSet.empty[Long]
    var i = 0
    while (i + w <= grams.length) {
      var mn = Long.MaxValue
      var j = i
      while (j < i + w) { if (grams(j) < mn) mn = grams(j); j += 1 }
      out += mn
      i += 1
    }
    out.toArray
  }
}
