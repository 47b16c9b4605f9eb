package graft.operators.dedup

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.GraftFunctions

// Cache lifecycle: the near-dup pair sets built here (BucketPairs,
// Shingling.withShingleSets) are lazy plans — building one runs no job
// and persists nothing, and their work runs once, inside the caller's
// action. Operators whose intermediates have several consumers across
// actions (PrefixFilter, MinHashIndex probes, the multi-probe IVF
// self-join) persist them only for the duration of one call through
// CacheScope, so a long-lived interactive session issuing many dedup
// calls accumulates only candidate-sized checkpoints, never
// corpus-sized caches (DedupSpec asserts the release).

/** Persist-for-the-call scope: `body` sees `intermediate` persisted (for
  * intermediates with several consumers that must not recompute the
  * corpus projection); the body's result is materialized eagerly
  * (localCheckpoint — slim by construction: candidate pairs, not corpus
  * rows) and the intermediate's blocks are released before returning,
  * error or not.
  */
private[operators] object CacheScope {
  def withPersisted(intermediate: DataFrame)(body: DataFrame => DataFrame): DataFrame = {
    val p = intermediate.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try body(p).localCheckpoint(true)
    finally { p.unpersist(false); () }
  }
}

/** The candidate-pair core of the near-duplicate family: rows keyed by
  * `keys` (an `id` column plus any `carry` columns) become the pairs of
  * rows that share a key. Contract:
  *  - pairs are `id_a < id_b`, one row per pair however many keys it
  *    shares;
  *  - only keys with 2..`maxMembers` members produce pairs — a larger key
  *    (boilerplate shingles, degenerate buckets) yields none, which keeps
  *    the quadratic pair work bounded per key;
  *  - carried columns come back as `<c>_a` / `<c>_b`, and `score` runs on
  *    the deduplicated pairs.
  *
  * One lazy plan: the rows shuffle once on the key and sort by (key, id)
  * within partitions; one linear scan per task then emits each key's
  * pairs, buffering at most `maxMembers + 1` rows of a key (the
  * `Quantiles.selectRanks` sort-and-scan idiom). Nothing is persisted,
  * counted or joined back, and building the plan runs no job.
  */
private[dedup] object BucketPairs {
  def apply(keyed: DataFrame, keys: Seq[String], maxMembers: Int, carry: Seq[String] = Nil,
      score: DataFrame => DataFrame = identity): DataFrame = {
    val cols = "id" +: carry
    // null keys never pair (the equi-join semantics of a key match)
    val rows = keyed.where(keys.map(col(_).isNotNull).reduce(_ && _))
    val at = cols.map(rows.schema.fieldIndex)
    val out = StructType(cols.flatMap(c =>
      Seq("a", "b").map(s => rows.schema(c).copy(name = s"${c}_$s"))))
    val pairs = rows.groupBy(keys.map(col): _*)
      .as(Encoders.row(StructType(keys.map(rows.schema(_)))), Encoders.row(rows.schema))
      .flatMapSortedGroups(col("id")) { (_, members) =>
        val kept = members.take(math.min(maxMembers.toLong + 1, Int.MaxValue).toInt).toVector
        // pairs stream out one at a time; only the key's rows are held
        if (kept.size > maxMembers) Iterator.empty
        else kept.indices.iterator.flatMap(i => (i + 1 until kept.size).iterator.map(j =>
          Row.fromSeq(at.flatMap(c => Seq(kept(i).get(c), kept(j).get(c))))))
      }(Encoders.row(out))
    // members sort by id, so the filter only drops equal and null ids
    score(pairs.where(col("id_a") < col("id_b")).dropDuplicates("id_a", "id_b"))
  }
}

/** Exact deduplication by content hash: hash-partitioned groupBy, keep the
  * lowest id per content key. One shuffle on the (high-cardinality, evenly
  * distributed) hash — the canonical 100 TB-safe exact dedup.
  */
object ExactDedup {
  def groups(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(md5(lower(col(contentCol))).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))

  /** Survivors only (keep-first). */
  def dedupe(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.join(groups(df, idCol, contentCol).select(idCol), Seq(idCol), "left_semi")

  /** Normalization-insensitive content key — the standard preprocessing
    * ahead of exact dedup in web-corpus pipelines: lowercase, strip
    * non-alphanumerics, collapse whitespace. Catches trivially
    * reformatted copies (punctuation/casing/spacing variants) that raw
    * hashing misses, at the same one-shuffle cost.
    */
  def normalizedKey(contentCol: Column): Column =
    md5(trim(regexp_replace(
      regexp_replace(lower(contentCol), "[^a-z0-9 ]", " "), " +", " ")))

  def groupsNormalized(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(normalizedKey(col(contentCol)).as("content_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
}

/** Ingestion-time dedup: drop NEW-batch rows whose content already exists
  * in a (much larger) corpus, without ever shuffling the corpus per batch.
  *
  * The batch form of the D9 streaming spec, built on the same insight as
  * `BloomJoin`: a bloom filter proves ABSENCE exactly. The corpus is
  * consumed once as a fixed-size sketch over its content keys; batch rows
  * the bloom rejects are provably new and BYPASS the join entirely, so
  * the exact anti-join runs only on true duplicates plus an fpp-fraction
  * of the batch. At 100 TB the corpus side of that residual check is a
  * slim one-column key projection (or a pre-bucketed key table — then the
  * residual join is shuffle-free), and the sketch is reusable across
  * batches until the corpus grows past its sizing.
  */
object IncrementalDedup {

  /** Builds the reusable corpus sketch ONCE (one corpus-key scan);
    * callers ingesting many batches pass it to [[newDocs]] via
    * `prebuiltBloom` so the standing corpus is not re-aggregated per
    * batch. Rebuild only when the corpus outgrows `expectedKeys`.
    */
  def buildContentBloom(corpus: DataFrame, contentCol: String,
      expectedKeys: Long, fpp: Double = 0.01): Array[Byte] =
    graft.operators.join.BloomJoin.buildKeyBloom(
      corpus.select(md5(lower(col(contentCol))).as("__ck")), "__ck", expectedKeys, fpp)

  /** Batch rows whose `normalizedKey`-style content hash (here: plain
    * md5(lower(text)), matching [[ExactDedup.groups]]) is absent from the
    * corpus. Bit-identical to the plain anti-join on the key: the bloom
    * never drops a row (no false negatives), and its false positives are
    * re-checked exactly. `expectedCorpusKeys` sizes the sketch; an
    * undersized sketch only degrades fpp (more rows take the exact
    * check), never correctness.
    *
    * Corpus access per call: the sketch build (skipped when
    * `prebuiltBloom` from [[buildContentBloom]] is supplied — the
    * steady-state multi-batch shape) plus the residual anti-join over
    * the slim one-column key projection; document text never shuffles.
    * At scale, materialize the md5-key projection as its own table once
    * and call [[newDocsAgainstKeys]] — bucketed on the key it makes the
    * residual join shuffle-free too.
    */
  def newDocs(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      contentCol: String,
      expectedCorpusKeys: Long,
      fpp: Double = 0.01,
      prebuiltBloom: Option[Array[Byte]] = None): DataFrame =
    newDocsAgainstKeys(
      corpus.select(md5(lower(col(contentCol))).as("__ck")), "__ck",
      batch, idCol, contentCol, expectedCorpusKeys, fpp, prebuiltBloom)

  /** [[newDocs]] against an already-materialized corpus content-key
    * column (md5 of lowercased content, as [[buildContentBloom]] and
    * [[ExactDedup.groups]] compute it) — the steady-state ingestion
    * shape: the standing corpus is represented ONLY by its key table
    * and its prebuilt sketch; per batch, nothing corpus-sized is
    * recomputed.
    */
  def newDocsAgainstKeys(
      corpusKeys: DataFrame,
      keyCol: String,
      batch: DataFrame,
      idCol: String,
      contentCol: String,
      expectedCorpusKeys: Long,
      fpp: Double = 0.01,
      prebuiltBloom: Option[Array[Byte]] = None): DataFrame = {
    import graft.operators.join.BloomJoin
    val keys = corpusKeys.select(col(keyCol).cast("string").as("__ck"))
    val bloom = prebuiltBloom.getOrElse(
      BloomJoin.buildKeyBloom(keys, "__ck", expectedCorpusKeys, fpp))
    val keyed = batch.withColumn("content_hash", md5(lower(col(contentCol))))
    val probe = coalesce(BloomJoin.mightContain(bloom, col("content_hash")), lit(false))
    val definitelyNew = keyed.where(!probe)
    val maybeDup = keyed.where(probe)
      .join(keys, col("content_hash") === col("__ck"), "left_anti")
    definitelyNew.union(maybeDup)
  }
}

private[graft] object Shingling {
  /** Word n-gram shingles of the lowercased text as 64-bit hashes (native
    * expression — no per-shingle string allocation). Multiset: callers
    * needing set semantics wrap in array_distinct.
    */
  def shingleHashes(textCol: Column, n: Int): Column =
    GraftFunctions.shingleHashes(split(lower(textCol), " "), n)

  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b)).cast("double")

  /** Candidate pairs `(id_a, id_b)` with their distinct shingle-hash
    * sets attached as `sh_a` / `sh_b`; `score` picks the output columns.
    * Shingles are computed only for docs that appear in a pair, once per
    * doc — at 100 TB the candidate set is orders of magnitude smaller
    * than the corpus.
    *
    * Lazy, and the pair set is read once: each pair is listed under both
    * of its ids, each candidate doc is shingled once next to its list,
    * and the pair's two ends meet again in one aggregate keyed by the
    * pair. A plan that read the pairs once per join side would compute
    * them once per side: the self-joined copy gets fresh attribute ids,
    * so adaptive execution reuses none of its exchanges.
    */
  def withShingleSets(pairs: DataFrame, df: DataFrame, idCol: String, textCol: String, n: Int)(
      score: DataFrame => DataFrame): DataFrame = {
    val ends = pairs.select(explode(array(col("id_a"), col("id_b"))).as("id"), struct("id_a", "id_b").as("p"))
      .groupBy("id").agg(collect_list(col("p")).as("ps"))
    val shingled = df.select(col(idCol).as("id"), col(textCol)).join(ends, Seq("id"))
      .select(col("id"), array_distinct(shingleHashes(col(textCol), n)).as("sh"), explode(col("ps")).as("p"))
    // every shingle set of a side's id: a repeated input id pairs each
    // of its rows, as a join on the id would
    def side(s: String) = filter(col("sets"), _("id") === col(s"id_$s"))("sh")
    score(shingled.groupBy("p.id_a", "p.id_b").agg(collect_list(struct("id", "sh")).as("sets"))
      .select(col("id_a"), col("id_b"), explode(side("a")).as("sh_a"), side("b").as("bs"))
      .select(col("id_a"), col("id_b"), col("sh_a"), explode(col("bs")).as("sh_b")))
  }

  /** Exact Jaccard over distinct shingle-hash sets, attached to candidate
    * pairs: (id_a, id_b, jaccard).
    */
  def verifyJaccard(pairs: DataFrame, df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    withShingleSets(pairs, df, idCol, textCol, n)(
      _.withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
        .select(col("id_a"), col("id_b"), col("jaccard")))
}

/** MinHash + LSH near-duplicate detection.
  *
  * Pipeline: word-shingles → xxhash64 per shingle → 64-slot MinHash
  * signature (native expression, one pass) → 16 bands of 4 rows → banded
  * bucket self-join → exact Jaccard verify on candidates only.
  *
  * Scale: the only shuffle is on (band, bucket) — near-uniform keys; the
  * quadratic verify runs per bucket, never on the corpus. `maxBucketSize`
  * drops degenerate buckets (boilerplate shingle sets) the way production
  * dedup pipelines do, keeping worst-case candidates bounded.
  */
object MinHashDedup {
  val NumHashes = 64
  val Bands = 16
  val RowsPerBand = 4
  val DefaultShingle = 3

  /** Fixed seeded multiply-shift coefficients (odd multipliers). */
  lazy val coeffs: Seq[(Long, Long)] = {
    val r = new scala.util.Random(42)
    Seq.fill(NumHashes)((r.nextLong() | 1L, r.nextLong()))
  }

  def signature(textCol: Column, shingle: Int = DefaultShingle): Column =
    GraftFunctions.minhashSig(Shingling.shingleHashes(textCol, shingle))

  /** The 16 band buckets of a text: the fused words→buckets expression
    * at the default shingle size, the signature then its banding
    * otherwise.
    */
  private[dedup] def bandColumn(textCol: Column, shingle: Int): Column =
    if (shingle == DefaultShingle) GraftFunctions.minhashBands(split(lower(textCol), " "))
    else GraftFunctions.bandBuckets(signature(textCol, shingle))

  /** Candidate pairs (id_a < id_b) from banded LSH buckets, with exact
    * Jaccard over shingle sets attached. Building the plan runs no job
    * when `df` is a scan or cached projection; over an uncached shuffle
    * output the fan-out's partition-count check runs that shuffle at
    * build time ([[graft.operators.FanOut]]).
    */
  def candidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingle: Int = DefaultShingle,
      maxBucketSize: Int = 1000): DataFrame = {
    // Banded rows stay slim — (id, band, bucket) only. Shingle sets are
    // re-attached after pair dedup; shuffling ~150-string arrays through
    // the band explode dominates runtime otherwise. Only the banding is
    // fanned out: it is the largest cost of the pair set and would run as
    // one task on a single-split input, while the shingle attach shuffles
    // on the id anyway (and a second read of the fan-out would run its
    // exchange twice: AQE reuses no exchange of a re-read copy).
    val docs = df.select(col(idCol).as("id"), col(textCol))
    val banded = graft.operators.FanOut.byKey(docs, col("id"))
      .select(col("id"), posexplode(bandColumn(col(textCol), shingle)).as(Seq("band", "bucket")))
    Shingling.verifyJaccard(BucketPairs(banded, Seq("band", "bucket"), maxBucketSize),
      docs, "id", textCol, shingle)
  }

  def duplicatePairs(df: DataFrame, idCol: String, textCol: String, threshold: Double = 0.5): DataFrame =
    candidatePairs(df, idCol, textCol).where(col("jaccard") >= threshold)

  /** Keep-first survivors: drop any doc near-matching a lower-id doc.
    * Builds with no job on the inputs [[candidatePairs]] names.
    */
  def dedupe(df: DataFrame, idCol: String, textCol: String, threshold: Double = 0.5): DataFrame = {
    val losers = duplicatePairs(df, idCol, textCol, threshold).select(col("id_b").as(idCol))
    // a shuffled join whatever the lazy losers' size estimate, so the
    // survivors spread over the shuffle partitions instead of inheriting
    // a single-partition input's layout
    df.join(losers.hint("shuffle_hash"), Seq(idCol), "left_anti")
  }
}

/** SimHash near-duplicate detection: 64-bit signature (native expression),
  * 4×16-bit chunk pigeonhole banding (any pair within hamming distance 3
  * shares at least one exact chunk), popcount verify on candidates.
  */
object SimHashDedup {
  def signature(textCol: Column): Column =
    GraftFunctions.simhash(split(lower(textCol), " "))

  def candidatePairs(df: DataFrame, idCol: String, textCol: String,
      maxBucketSize: Int = 1000): DataFrame =
    // the banding/skew-guard/popcount core is the signature-generic
    // [[HammingDedup]] — simhash only contributes the text signature.
    // Not fanned out: the native simhash projection is cheap, and the
    // pair core re-keys by (band, bucket), so an extra id-keyed exchange
    // costs more than it parallelizes.
    HammingDedup.candidatePairs(
      df.select(col(idCol).as("id"), signature(col(textCol)).as("sig")),
      "id", "sig", maxBucketSize)

  def duplicatePairs(df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3): DataFrame =
    candidatePairs(df, idCol, textCol).where(col("hamming") <= maxHamming)

  def dedupe(df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3): DataFrame = {
    val losers = duplicatePairs(df, idCol, textCol, maxHamming).select(col("id_b").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }
}

/** Generic 64-bit-signature hamming near-dup — the SimHash pigeonhole
  * banding (4×16-bit chunks: any pair within hamming distance 3 shares
  * at least one exact chunk) over a CALLER-SUPPLIED hash column, so any
  * per-row 64-bit perceptual signature (text simhash, image aHash,
  * audio fingerprint) gets the same bounded-candidate near-dup join.
  * Same skew guard and slim (id, band, bucket) shuffle as
  * [[SimHashDedup]]; popcount verify on candidates.
  */
object HammingDedup {
  val Chunks = 4
  val ChunkBits = 16

  /** All co-banding candidates (id_a < id_b) with their exact hamming
    * distance attached, no distance filter — the shared banding core
    * [[SimHashDedup]] delegates to. Candidacy is structural only up to
    * hamming Chunks - 1 (pigeonhole); beyond that a pair may or may not
    * co-band.
    */
  def candidatePairs(df: DataFrame, idCol: String, hashCol: String,
      maxBucketSize: Int = 1000): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(hashCol).cast("long").as("sig"))
    val chunkCols = (0 until Chunks).map { c =>
      struct(lit(c).as("band"),
        shiftrightunsigned(col("sig"), c * ChunkBits).bitwiseAND(lit(0xFFFFL)).as("bucket"))
    }
    val banded = base
      .select(col("id"), col("sig"), explode(array(chunkCols: _*)).as("bb"))
      .select(col("id"), col("sig"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    BucketPairs(banded, Seq("band", "bucket"), maxBucketSize, carry = Seq("sig"),
      score = _.withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
        .drop("sig_a", "sig_b"))
  }

  /** Pairs (id_a < id_b, hamming) within `maxHamming` of each other.
    * `maxHamming` must be <= Chunks - 1 = 3 for the pigeonhole
    * guarantee (beyond it, candidate recall is no longer structural).
    */
  def pairs(df: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= Chunks - 1,
      s"maxHamming must be in [0, ${Chunks - 1}] (the pigeonhole bound), got $maxHamming")
    candidatePairs(df, idCol, hashCol, maxBucketSize)
      .where(col("hamming") <= maxHamming)
  }
}

/** n-gram Jaccard near-dup: candidates = pairs sharing ≥1 exact shingle
  * (exploded-shingle equi-join), then exact Jaccard verify. More recall
  * than MinHash banding, more candidates — the scale guard is the shared-
  * shingle frequency cap.
  */
object NGramJaccardDedup {
  def candidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingle: Int = 5,
      maxShingleFreq: Int = 100): DataFrame =
    Shingling.verifyJaccard(
      sharedShinglePairs(df, idCol, textCol, shingle, maxShingleFreq),
      df, idCol, textCol, shingle)

  /** The raw candidate set: (id_a, id_b) sharing ≥1 shingle that passes
    * the frequency cap. Shared by the Jaccard and containment verifiers.
    */
  private def sharedShinglePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingle: Int,
      maxShingleFreq: Int): DataFrame =
    // Slim (shingle-hash, id) rows through the shuffle; shingle sets are
    // re-attached to candidates only (same reasoning as MinHash). Not
    // fanned out: native hash shingling is cheap and the pair core re-keys
    // by the shingle hash, so an id-keyed exchange buys nothing downstream
    // (PrefixFilter keeps its fan-out because its per-doc prefix window
    // does reuse the id partitioning).
    BucketPairs(
      df.select(col(idCol).as("id"),
        explode(array_distinct(Shingling.shingleHashes(col(textCol), shingle))).as("s")),
      Seq("s"), maxShingleFreq)

  /** Candidate pairs with CONTAINMENT scores (|A∩B|/|A| and /|B|)
    * alongside Jaccard: a short doc quoted inside a long one scores near
    * 1.0 on containment while symmetric Jaccard stays low — the signal
    * quote-inclusion / near-subset dedup needs. Same candidate flow
    * (shared-shingle equi-join, frequency cap) as [[candidatePairs]];
    * shingle sets are attached to candidates only, like verifyJaccard.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingle: Int = 5,
      maxShingleFreq: Int = 100): DataFrame =
    Shingling.withShingleSets(
      sharedShinglePairs(df, idCol, textCol, shingle, maxShingleFreq),
      df, idCol, textCol, shingle) {
      _.withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
        .select(
          col("id_a"), col("id_b"),
          (col("n_inter").cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))).cast("double")).as("jaccard"),
          (col("n_inter").cast("double") / size(col("sh_a")).cast("double")).as("containment_a"),
          (col("n_inter").cast("double") / size(col("sh_b")).cast("double")).as("containment_b"))
    }

  /** Per-doc candidate stats (total, always one row per doc). */
  def stats(df: DataFrame, idCol: String, textCol: String, shingle: Int = 5): DataFrame = {
    // one read of the lazy pair set: each pair counts for both its ids
    val perDoc = candidatePairs(df, idCol, textCol, shingle)
      .select(explode(array(col("id_a"), col("id_b"))).as("id"), col("jaccard"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_candidates"), max(col("jaccard")).as("max_jaccard"))
    df.select(col(idCol).as("id"))
      .join(perDoc, Seq("id"), "left")
      .select(
        col("id").as(idCol),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"))
  }
}

/** Embedding-cosine near-dup. `duplicatePairs` is exact all-pairs — the
  * correctness baseline, quadratic. `duplicatePairsApprox` is the 100 TB
  * path: an IVF coarse quantizer buckets the corpus and pairs are scored
  * within cells only (cost Σ|cell|² ≈ n²/nLists for balanced cells);
  * near-identical vectors land in the same cell with high probability.
  */
object EmbeddingDedup {
  def duplicatePairs(df: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    // not FanOut-gated: the BNL stream side is cheap to rescan, and the
    // gate's extra planning costs more than the parallelism gains
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", GraftFunctions.cosine(col("v_a"), col("v_b")))
      .where(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), graft.functions.ExactMath.hashRound(col("sim"), 4).as("sim"))
  }

  def duplicatePairsApprox(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nLists: Int = 16,
      iters: Int = 3,
      maxCellSize: Int = 10000,
      prebuilt: Option[graft.operators.ann.IvfKNN.Index] = None,
      nAssign: Int = 1,
      splitDepth: Int = 3): DataFrame = {
    // build-once/search-many: callers holding a built index (bench loops,
    // repeated dedup passes over one corpus) skip quantizer training
    val index = prebuilt.getOrElse(
      graft.operators.ann.IvfKNN.buildIndex(df, idCol, vecCol, nLists, iters))
    // nAssign > 1 = multi-probe: each vector joins its nAssign nearest
    // cells, so near-dups straddling a cell boundary still co-bucket —
    // recall rises at ~nAssign× candidate cost. Still map-only (the
    // probe-list expression embeds the centroid literals).
    val assigned =
      if (nAssign <= 1) index.assigned
      else df
        .select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
        .select(col("neighbor_id"), col("__cv"),
          explode(GraftFunctions.nearestCells(col("__cv"), index.centroids, nAssign)).as("cell_id"))
    // cell-size cap: one degenerate cell would make the self-join quadratic
    // (the same skew guard as the banded dedups). Over-cap cells are NOT
    // excluded — that would silently under-dedup exactly where near-dup
    // floods concentrate: they take the hot-cell path below.
    // The cap is computed from the FIRST-CHOICE populations (index.assigned
    // — true cell sizes): probe overlays must not change which cells are
    // usable, or a near-cap cell would drop under nAssign>1 and multi-probe
    // recall could dip below single-probe. Join rows per usable cell grow
    // at most nAssign-fold over the capped population.
    val cellSizes = index.assigned.groupBy("cell_id")
      .agg(count(lit(1)).as("csz"))
    val usable = cellSizes
      .where(col("csz") >= 2 && col("csz") <= maxCellSize)
      .select("cell_id")
    // both self-join sides consume `bounded`; the multi-probe input is a
    // raw corpus scan (unlike index.assigned, which buildIndex persists),
    // so it gets the call-scoped persist. Single-assignment cannot produce
    // duplicate pairs (one cell per vector) — only multi-probe pays the
    // deduplicating shuffle.
    val bounded0 = assigned.join(usable, Seq("cell_id"))
    def pairsOf(bounded: DataFrame, keyCols: Seq[String]): DataFrame = {
      val a = bounded.select(
        keyCols.map(col) :+ col("neighbor_id").as("id_a") :+ col("__cv").as("v_a"): _*)
      val b = bounded.select(
        keyCols.map(col) :+ col("neighbor_id").as("id_b") :+ col("__cv").as("v_b"): _*)
      a.join(b, keyCols)
        .where(col("id_a") < col("id_b"))
        .withColumn("sim", GraftFunctions.cosine(col("v_a"), col("v_b")))
        .where(col("sim") >= threshold)
        .select(col("id_a"), col("id_b"), graft.functions.ExactMath.hashRound(col("sim"), 4).as("sim"))
    }
    val basePairs =
      if (nAssign > 1)
        CacheScope.withPersisted(bounded0)(b =>
          pairsOf(b, Seq("cell_id")).dropDuplicates("id_a", "id_b"))
      else pairsOf(bounded0, Seq("cell_id"))

    // --- hot-cell path: over-cap cells stay pair-eligible.
    // The cell list is ≤ nLists rows, so the gate check is a tiny agg over
    // the persisted assignment; the common case (no hot cell) costs one
    // small job and returns the within-cap plan unchanged.
    val hotCells = cellSizes.where(col("csz") > maxCellSize).select("cell_id")
    if (hotCells.isEmpty) basePairs
    else {
      val hotPairs = hotCellPairs(
        index.assigned.join(broadcast(hotCells), Seq("cell_id")),
        threshold, maxCellSize, math.max(2, nLists), iters, splitDepth, pairsOf)
      // hot first-choice members can also reach usable cells through probe
      // overlays (nAssign > 1), so the union deduplicates; sims are
      // value-identical across paths (same cosine expression), so the
      // row dropped is value-arbitrary but output-deterministic.
      basePairs.unionAll(hotPairs).dropDuplicates("id_a", "id_b")
    }
  }

  /** Pairs within over-cap IVF cells — the seam-closing path (a hot cell
    * is exactly where a near-duplicate flood lands, and excluding it
    * silently under-dedups the corpus at scale). Three stages, cheapest
    * first:
    *
    *  1. EXACT-duplicate groups collapse via STAR edges (min-id rep ↔
    *     each copy): identical vectors can never be separated by any
    *     quantizer, all-pairs output would be quadratic in the flood,
    *     and the star yields the identical transitive closure in output
    *     LINEAR in the flood — complete by construction.
    *  2. The per-cell DISTINCT representatives, when they fit
    *     `maxCellSize`, pair directly (complete within the cell). This
    *     is the common real-world hot cell: a flood of copies plus a
    *     modest distinct population.
    *  3. Cells whose distinct reps still exceed the cap re-quantize with
    *     a finer sub-quantizer (one jointly-trained quantizer per depth,
    *     composite cell keys — never a per-cell driver loop) and recurse
    *     up to `splitDepth` levels; sub-cell pairing inherits the same
    *     Voronoi-straddle recall contract as the top-level IVF (k-means
    *     separates DIVERSE hot regions; it cannot meaningfully split
    *     near-identical distinct clumps, which is why stage 1 runs
    *     first). At the depth bound, whatever remains pairs UNCAPPED:
    *     every vector is pair-eligible, and the residual cost is
    *     output-pair-driven (a leaf that survives log-splitting is a
    *     flood of distinct mutually-near vectors whose above-threshold
    *     pairs are genuinely quadratic). `splitDepth = 0` skips k-means
    *     entirely — over-cap rep cells go straight to exact pairing.
    *
    * Training is the deterministic hash-seeded Lloyd's of
    * [[graft.operators.ann.IvfKNN.trainCentroids]], so the whole path is
    * bit-reproducible across JVMs and partitionings.
    */
  private def hotCellPairs(
      hotRows: DataFrame,
      threshold: Double,
      maxCellSize: Int,
      subLists: Int,
      iters: Int,
      splitDepth: Int,
      pairsOf: (DataFrame, Seq[String]) => DataFrame): DataFrame = {
    import graft.operators.ann.IvfKNN
    val keyed = hotRows.select(
      col("cell_id").cast("string").as("__hk"), col("neighbor_id"), col("__cv"))
    // stage 1: exact-dup star collapse. reps is read twice (stars + the
    // recursion seed) and the recursion multi-passes it — pin it once.
    val reps = keyed.groupBy(col("__hk"), col("__cv"))
      .agg(min(col("neighbor_id")).as("neighbor_id"))
      .localCheckpoint(true)
    val dupStars = keyed
      .join(reps.select(col("__hk"), col("__cv"), col("neighbor_id").as("__rep")),
        Seq("__hk", "__cv"))
      .where(col("neighbor_id") =!= col("__rep"))
      .withColumn("sim", GraftFunctions.cosine(col("__cv"), col("__cv")))
      .where(col("sim") >= threshold)
      .select(col("__rep").as("id_a"), col("neighbor_id").as("id_b"),
        graft.functions.ExactMath.hashRound(col("sim"), 4).as("sim"))
    // stages 2+3: distinct reps pair under the cap, over-cap cells split
    var level = reps
    var depth = 0
    var done = false
    val pools = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    while (!done) {
      val sizes = level.groupBy("__hk").agg(count(lit(1)).as("csz"))
      pools += level.join(
        broadcast(sizes.where(col("csz") >= 2 && col("csz") <= maxCellSize).select("__hk")),
        Seq("__hk"))
      val overKeys = sizes.where(col("csz") > maxCellSize).select("__hk")
      val over = level.join(broadcast(overKeys), Seq("__hk"))
      if (overKeys.isEmpty) done = true
      else if (depth >= splitDepth) { pools += over; done = true }
      else {
        val cents = IvfKNN.trainCentroids(over, "__cv", subLists, iters)
        level = IvfKNN.assign(over, "__cv", cents)
          .where(col("cell_id").isNotNull)
          .withColumn("__hk", concat_ws("#", col("__hk"), col("cell_id").cast("string")))
          .drop("cell_id")
          .localCheckpoint(true)
        depth += 1
      }
    }
    dupStars.unionAll(pools.map(p => pairsOf(p, Seq("__hk"))).reduce(_ unionAll _))
  }

  /** SemDeDup-shape semantic deduplication (Abbas et al. 2023) —
    * first-class composition of the existing primitives:
    * IVF-cluster the embedding space and emit within-cluster cosine
    * pairs above `threshold` ([[duplicatePairsApprox]] — co-bucketed
    * candidates with exact-cosine verify, never all-pairs), close them
    * transitively (large-star/small-star, O(log n) rounds) and keep the
    * BEST-scored member of each duplicate component
    * ([[TransitiveDedup.dedupeKeepBest]]: score desc, id asc tiebreak).
    * Returns the surviving rows of `df` unchanged.
    *
    * The pair table is localCheckpointed before the component loop —
    * it is slim (id, id) and the star contraction re-reads its input
    * several times; without the pin every round would re-run the IVF
    * self-join. Recall contract = the co-bucketing contract of
    * [[duplicatePairsApprox]]: exact duplicates collapse structurally
    * (identical vector ⇒ identical centroid); near-dups are
    * approximate by construction (Voronoi straddle) — the SelfCheck
    * gate enforces 15/16 on planted cos-0.96 twins under nAssign = 2
    * (one straddle allowed), and the pair-level gate separately holds
    * the 0.95 floor at cos ≥ 0.9 on its larger plant population.
    * Below-threshold pairs never merge (the exact verify stage).
    * Over-cap cells stay pair-eligible (the hot-cell path of
    * [[duplicatePairsApprox]]: star-collapsed exact copies + re-quantized
    * distinct reps) — a near-dup flood landing one cell hot no longer
    * silently under-dedups; the hotcell SelfCheck gate plants one.
    */
  def dedupeSemantic(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      scoreCol: Column,
      threshold: Double,
      nLists: Int = 16,
      iters: Int = 3,
      nAssign: Int = 2,
      prebuilt: Option[graft.operators.ann.IvfKNN.Index] = None,
      maxCellSize: Int = 10000,
      splitDepth: Int = 3): DataFrame = {
    val pairs = duplicatePairsApprox(df, idCol, vecCol, threshold,
      nLists = nLists, iters = iters, maxCellSize = maxCellSize,
      prebuilt = prebuilt, nAssign = nAssign, splitDepth = splitDepth)
      .select("id_a", "id_b")
      .localCheckpoint(true)
    TransitiveDedup.dedupeKeepBest(df, idCol, pairs, scoreCol)
  }

  /** Incremental semantic near-dup for continuous ingestion (D39) —
    * batch-vs-corpus semantic dedup WITHOUT
    * re-clustering the corpus, composing the saved IVF index (D16's
    * continuously-maintained artifact at `path`) with [[dedupeSemantic]]'s
    * verify/close/keep-best semantics, the q_dedup_incremental shape:
    *
    *  - the batch is assigned with the FROZEN saved quantizer (map-only,
    *    centroid literals — the batch is the only thing scanned in full);
    *  - batch-vs-corpus candidate pairs read ONLY the batch's cells from
    *    the cell-partitioned corpus parquet (the probed-cell list is
    *    ≤ nLists values, collected driver-side — bounded by construction;
    *    PartitionFilter pruning at the scan, the IvfKNN.search contract);
    *  - a batch row whose exact cosine reaches `threshold` against ANY
    *    corpus row is a duplicate of an already-kept survivor and drops —
    *    the index is APPEND-ONLY, so a later, better-scored copy does not
    *    retract the corpus member (the IncrementalAgg append-only
    *    precedent; one-shot keep-best CAN differ there by design);
    *  - WITHIN-batch components close exactly like [[dedupeSemantic]]
    *    (same-cell exact-verified pairs → transitive components →
    *    keep-best), and a component ANY member of which matched the
    *    corpus drops WHOLE — so within-batch chains through a
    *    corpus-duplicate member behave exactly as the one-shot closure
    *    would. The one declared divergence from one-shot dedup on the
    *    union is a CROSS-BATCH chain through a dropped row (b ~ a ~
    *    corpus with b arriving in a LATER batch than a, b itself below
    *    threshold to every survivor) — invisible to any index that only
    *    stores survivors.
    *
    * Returns the surviving batch rows; when `appendSurvivors`, appends
    * them to the saved index ([[graft.operators.ann.IvfKNN.appendToSaved]],
    * same frozen quantizer ⇒ assignments consistent with the probe's).
    * Single-assignment probe (the saved artifact stores first-choice
    * cells); near-dups straddling a Voronoi boundary carry the standard
    * IVF recall contract.
    */
  def dedupeSemanticIncremental(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      scoreCol: Column,
      threshold: Double,
      appendSurvivors: Boolean = true): DataFrame = {
    import graft.operators.ann.IvfKNN
    val index = IvfKNN.load(spark, path)
    // pinned: read three times (cell list, corpus probe, within-batch join)
    val assignedBatch = IvfKNN.assign(
      batch.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")),
      "__cv", index.centroids)
      .where(col("cell_id").isNotNull)
      .localCheckpoint(true)
    val cells = assignedBatch.select("cell_id").distinct()
      .collect().map(_.getLong(0))
    val corpusSlice = index.assigned
      .where(col("cell_id").isin(cells.map(Long.box).toIndexedSeq: _*))
    // batch rows duplicating an already-kept survivor (cost linear in the
    // probed cells' population per batch — an equi-join probe, never a
    // corpus self-join; the corpus is not reshuffled)
    val crossDup = assignedBatch
      .select(col("cell_id"), col("neighbor_id").as("__bid"), col("__cv").as("__bv"))
      .join(corpusSlice.select(col("cell_id"), col("__cv").as("__corpv")), Seq("cell_id"))
      .where(GraftFunctions.cosine(col("__bv"), col("__corpv")) >= threshold)
      .select(col("__bid")).distinct()
      .localCheckpoint(true)
    // within-batch pairs on the same frozen assignments (batch-scale
    // self-join per cell — microbatches are bounded by contract)
    val a = assignedBatch.select(col("cell_id"), col("neighbor_id").as("id_a"), col("__cv").as("v_a"))
    val b = assignedBatch.select(col("cell_id"), col("neighbor_id").as("id_b"), col("__cv").as("v_b"))
    val batchPairs = a.join(b, Seq("cell_id"))
      .where(col("id_a") < col("id_b"))
      .where(GraftFunctions.cosine(col("v_a"), col("v_b")) >= threshold)
      .select("id_a", "id_b")
      .localCheckpoint(true)
    // components touching the corpus drop WHOLE; isolated corpus-dups too
    val comps = TransitiveDedup.components(batchPairs)
    val touchedComponents = comps
      .join(crossDup, comps("id") === crossDup("__bid"))
      .select(col("component")).distinct()
    val dropIds = comps.join(touchedComponents, Seq("component"))
      .select(col("id").as(idCol))
      .unionAll(crossDup.select(col("__bid").as(idCol)))
      .distinct()
    val kept = TransitiveDedup.dedupeKeepBest(batch, idCol, batchPairs, scoreCol)
      .join(dropIds, Seq(idCol), "left_anti")
      .localCheckpoint(true) // appendToSaved and the caller both consume it
    if (appendSurvivors && !kept.isEmpty)
      IvfKNN.appendToSaved(spark, path, kept, idCol, vecCol)
    kept
  }

  /** foreachBatch adapter for [[dedupeSemanticIncremental]] — the D16
    * appendSink shape: each microbatch dedups against the saved index
    * and appends only its survivors, so the index at rest is always the
    * deduplicated corpus.
    */
  def semanticDedupSink(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      idCol: String,
      vecCol: String,
      scoreCol: Column,
      threshold: Double): (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, _) => {
      dedupeSemanticIncremental(
        spark, path, batch.toDF(), idCol, vecCol, scoreCol, threshold)
      ()
    }
}

/** Corpus-level LINE/SPAN deduplication — the C4-style preprocessing
  * step: any sufficiently long unit (a newline-delimited line, or an
  * aligned fixed-width word span) that occurs more than once ACROSS
  * THE WHOLE CORPUS is kept only at its first occurrence (lowest
  * (doc, position)) and removed everywhere else; short units (headers,
  * list markers, blanks) always survive, since removing every
  * duplicated "Introduction" would butcher the documents.
  *
  * Scale shape: documents explode to unit grain once; the keep
  * decision is a hash-partitioned groupBy on the normalized unit hash
  * (uniform keys) joined back at the same partitioning (AQE reuses the
  * exchange), and reassembly is one shuffle of the KEPT units by doc.
  * Nothing collects to the driver and no window sorts unit groups —
  * the same agg+join-beats-window rule the banded dedups follow.
  *
  * Determinism contract (oracle-mirrored): the first occurrence is
  * `min(doc_id * 1000000 + position)` — a scalar, not a struct, so the
  * DuckDB oracle can reproduce the exact expression; positions are
  * 1-based and bounded far below the multiplier by any real document.
  */
object LineDedup {

  /** Integral id contract: `__ord = id * 10^6 + pos` requires an id that
    * casts to Long losslessly. A string/UUID id would cast to NULL, NULL
    * ords would equality-filter every dedupable unit away, and the
    * operator would silently empty the corpus — fail fast instead.
    */
  private def requireIntegralId(df: DataFrame, idCol: String): Unit = {
    import org.apache.spark.sql.types._
    df.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"$idCol must be an integral type (the (doc, position) ordinal " +
          s"encodes as id*1e6+pos), got $other — hash or zip a surrogate id first")
    }
  }

    /** Core: dedupe a (id, idx, unit, n_total) frame and rebuild per-doc
    * text by joining surviving units with `sep` in original order.
    * `__n` (units per doc) arrives precomputed from the pre-explode
    * expression, so no separate totals scan/join exists.
    *
    * Plan shape (executed-plan audited): TWO streaming corpus scans and
    * no persist — the keeper derivation reads only (id, text), explodes,
    * and immediately aggregates to the slim (lh, min ord) table (which
    * BROADCASTS when distinct-unit cardinality allows, leaving the probe
    * side with zero pre-join shuffles; at corpus scale it degrades to a
    * sort-merge join where unit rows shuffle once on the hash). Unit
    * rows then shuffle once more for the per-doc reassembly. Persisting
    * the exploded corpus to "scan once" would trade two cheap columnar
    * scans for materializing the whole exploded corpus — the wrong trade
    * at 100 TB.
    *
    * Positions beyond the 10^6 ordinal bound raise at evaluation time —
    * a colliding ordinal would silently hand a span to the wrong doc,
    * and the oracle mirrors the same formula so it could never catch
    * that.
    */
  private def dedupeUnits(units: DataFrame, sep: String, minChars: Int): DataFrame = {
    val keyed = units
      .withColumn("__lh", md5(lower(trim(col("__unit")))))
      .withColumn("__dedupable", length(trim(col("__unit"))) >= minChars)
      .withColumn("__ord",
        when(col("__idx") < 1000000L, col("__id").cast("long") * 1000000L + col("__idx"))
          .otherwise(raise_error(concat(
            lit("LineDedup: unit position "), col("__idx").cast("string"),
            lit(" exceeds the 1e6 ordinal bound - split the document first")))))
    val keepers = keyed.where(col("__dedupable"))
      .groupBy("__lh").agg(min(col("__ord")).as("__keep"))
    val kept = keyed
      .join(keepers, Seq("__lh"), "left")
      .where(!col("__dedupable") || col("__ord") === col("__keep"))
    kept
      .groupBy(col("__id"))
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("__idx"), col("__unit")))),
          s => s("__unit")), sep).as("cleaned"),
        count(lit(1)).as("n_kept"),
        max(col("__n")).as("n_total"))
      .select(col("__id").as("__out_id"), col("cleaned"), col("n_total"), col("n_kept"))
  }

  /** Newline-delimited line dedup — returns (idCol, cleaned, n_total,
    * n_kept). NULL-text rows are dropped up front.
    */
  def clean(df: DataFrame, idCol: String, textCol: String, minChars: Int = 30): DataFrame = {
    require(minChars >= 1, s"minChars must be >= 1, got $minChars")
    requireIntegralId(df, idCol)
    val parts = split(col(textCol), "\n")
    // fan the slim (id, text) rows out before the split+explode: both
    // dedupeUnits consumers re-derive the unit explode, and on a
    // single-split input each ran it in a 1-task stage (ProfileStages);
    // the shared exchange subtree is also reused, so the
    // corpus scan happens once. Gated no-op on multi-split inputs.
    val units = graft.operators.FanOut.byKey(
      df.where(col(idCol).isNotNull && col(textCol).isNotNull)
        .select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol).as("__id"), size(parts).cast("long").as("__n"), posexplode(parts))
      .select(col("__id"), col("__n"), (col("pos") + 1).cast("long").as("__idx"),
        col("col").as("__unit"))
    dedupeUnits(units, "\n", minChars)
      .withColumnRenamed("__out_id", idCol)
  }

  /** Aligned `spanWords`-word span dedup — the form that bites on
    * single-line corpora (near-duplicate documents share long word
    * runs; their aligned spans collide corpus-wide even when no
    * newline structure exists). The final short span of each doc is a
    * unit too. Returns the same shape as [[clean]].
    */
  def cleanSpans(df: DataFrame, idCol: String, textCol: String,
      spanWords: Int = 8, minChars: Int = 30): DataFrame = {
    require(spanWords >= 1, s"spanWords must be >= 1, got $spanWords")
    require(minChars >= 1, s"minChars must be >= 1, got $minChars")
    requireIntegralId(df, idCol)
    val ws = split(col(textCol), " ")
    val nSpans = ceil(size(ws).cast("double") / spanWords).cast("long")
    val spans = transform(
      sequence(lit(0L), greatest(nSpans - 1L, lit(0L))),
      i => array_join(slice(ws, (i * spanWords + 1).cast("int"), lit(spanWords)), " "))
    // same single-split fan-out as [[clean]] — the interpreted span
    // transform dominated q_dedup_spans in a 1-task scan (2.2 s measured)
    val units = graft.operators.FanOut.byKey(
      df.where(col(idCol).isNotNull && col(textCol).isNotNull)
        .select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol).as("__id"), size(spans).cast("long").as("__n"), posexplode(spans))
      .select(col("__id"), col("__n"), (col("pos") + 1).cast("long").as("__idx"),
        col("col").as("__unit"))
    dedupeUnits(units, " ", minChars)
      .withColumnRenamed("__out_id", idCol)
  }
}
