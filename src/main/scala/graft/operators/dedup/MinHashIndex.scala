package graft.operators.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted near-dup index for INGESTION-TIME near-duplicate detection
  * against a standing corpus — the near-dup twin of [[IncrementalDedup]]
  * (which proves exact-content absence) and the banded analogue of the
  * IVF index artifact (ann/Knn.scala save/load/appendToSaved is the
  * template): the corpus is shingled and banded ONCE into a durable
  * store, and each arriving batch probes only its own buckets — the
  * standing corpus is never re-shingled or re-shuffled per batch.
  *
  * Store layout (all hash-bucketed with a FIXED fan-out so directory
  * counts stay bounded regardless of corpus size — the InvertedIndex
  * lesson):
  *
  *  - `shingles/`        (id, sh: array<long>)  distinct shingle-hash set
  *    per doc — the exact-Jaccard verify side both probes share.
  *  - `shingle_postings/` (s, id) partitioned by `bucket = pmod(s,
  *    nBuckets)` — the EXACT probe's join side. All postings of a
  *    shingle live in one bucket, so partition pruning keeps whole
  *    shingle groups and never changes semantics.
  *  - `band_postings/`   (band, bucket, id) partitioned by `pbucket =
  *    pmod(xxhash64(band, bucket), nBuckets)` — the MinHash-banded
  *    probe's join side (16 slim rows per doc).
  *
  * Two probes over the same store:
  *
  *  - [[probeExact]] — candidates share >= 1 un-capped exact shingle
  *    (the C4 / NGramJaccardDedup candidate rule): COMPLETE for any
  *    Jaccard threshold > 0 modulo the frequency cap, and expressible
  *    over shingle STRINGS, so the DuckDB oracle mirrors the whole
  *    operator (the q_dedup_incremental_near row).
  *  - [[probeBanded]] — candidates co-band under MinHash LSH (the C2
  *    rule): candidate count per batch row is bounded by banding, the
  *    100 TB path when shingle-grain postings get hot; recall at the
  *    threshold is probabilistic (1-(1-t^r)^b), so this path is gated
  *    by planted-truth specs, not an oracle — exactly the C2 protocol.
  *
  * Both verify candidates with EXACT Jaccard over the stored shingle
  * sets — emitted pairs are never approximate; only candidate recall is.
  *
  * Probe scale shape: the batch's distinct bucket ids are AT MOST
  * `nBuckets` values (collected driver-side — bounded by construction,
  * not by data), so every probe scan prunes to the batch's buckets; a
  * corpus-wide batch degrades gracefully to a full-postings equi-join,
  * still never quadratic thanks to the frequency/bucket caps.
  */
object MinHashIndex {

  val DefaultShingle = 3
  val DefaultBuckets = 64

  /** The in-memory store — the hermetic form the Verify-visible query
    * uses; [[save]]/[[load]] round-trip it through the durable layout.
    * `shingleSets` is persisted MEMORY_AND_DISK by [[build]] (the
    * IvfKNN.Index precedent: build once, probe many; recomputable
    * lineage). `nBuckets` and `shingle` are FROZEN properties of the
    * layout (the IVF-quantizer contract): [[save]] persists them in a
    * meta file and [[load]]/[[append]] read them back — a caller-typed
    * mismatch would silently prune real matches away.
    */
  final case class Store(
      shingleSets: DataFrame,
      shinglePostings: DataFrame,
      bandPostings: DataFrame,
      nBuckets: Int,
      shingle: Int)

  private def shingleSetsOf(df: DataFrame, idCol: String, textCol: String, shingle: Int): DataFrame =
    // fan out before shingling — [[build]] persists these sets, and on a
    // single-split corpus the persist would inherit ONE partition,
    // serializing every probe stage that reads it
    graft.operators.FanOut.byKey(
      df.where(col(textCol).isNotNull)
        .select(col(idCol).as("id"), col(textCol).as("__t")), col("id"))
      .select(col("id"),
        array_distinct(Shingling.shingleHashes(col("__t"), shingle)).as("sh"))

  private def postingsOf(sets: DataFrame, nBuckets: Int): DataFrame =
    sets.select(explode(col("sh")).as("s"), col("id"))
      .withColumn("bucket", pmod(col("s"), lit(nBuckets.toLong)))

  private def bandsOf(df: DataFrame, idCol: String, textCol: String,
      shingle: Int, nBuckets: Int): DataFrame =
    // same pre-banding fan-out as shingleSetsOf. The band column
    // references textCol by name, so the projection keeps its name here.
    graft.operators.FanOut.byKey(
      df.where(col(textCol).isNotNull)
        .select(col(idCol).as("id"), col(textCol)), col("id"))
      .select(col("id"),
        posexplode(MinHashDedup.bandColumn(col(textCol), shingle)).as(Seq("band", "bucket")))
      .withColumn("pbucket", pmod(xxhash64(col("band"), col("bucket")), lit(nBuckets.toLong)))

  /** Builds the in-memory store from a corpus: ONE shingling pass (the
    * sets feed the postings), one banding pass.
    */
  def build(corpus: DataFrame, idCol: String, textCol: String,
      shingle: Int = DefaultShingle, nBuckets: Int = DefaultBuckets): Store = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val sets = shingleSetsOf(corpus, idCol, textCol, shingle)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Store(sets, postingsOf(sets, nBuckets),
      bandsOf(corpus, idCol, textCol, shingle, nBuckets), nBuckets, shingle)
  }

  /** Writes the durable artifact. Fixed directory fan-out: `nBuckets`
    * partitions per postings table at ANY corpus size.
    */
  def save(store: Store, path: String): Unit = {
    store.shingleSets.write.mode("overwrite").parquet(s"$path/shingles")
    store.shinglePostings.repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/shingle_postings")
    store.bandPostings.repartition(col("pbucket"))
      .write.mode("overwrite").partitionBy("pbucket").parquet(s"$path/band_postings")
    val spark = store.shingleSets.sparkSession
    spark.createDataFrame(Seq((store.nBuckets, store.shingle)))
      .toDF("n_buckets", "shingle")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  private def readMeta(spark: SparkSession, path: String): (Int, Int) = {
    val r = spark.read.parquet(s"$path/meta").head()
    (r.getInt(0), r.getInt(1))
  }

  /** Opens a saved store; the layout's frozen `nBuckets`/`shingle` come
    * from the persisted meta, never from the caller.
    */
  def load(spark: SparkSession, path: String): Store = {
    val (nBuckets, shingle) = readMeta(spark, path)
    Store(
      spark.read.parquet(s"$path/shingles"),
      spark.read.parquet(s"$path/shingle_postings")
        .withColumn("bucket", col("bucket").cast("long")),
      spark.read.parquet(s"$path/band_postings")
        .withColumn("pbucket", col("pbucket").cast("long")),
      nBuckets, shingle)
  }

  /** Incremental growth: the batch is shingled/banded ONCE (one pinned
    * materialization feeds all three representations — the appendToSaved
    * two-writes lesson) and appended; the indexed corpus is never
    * touched. The shingle function and `nBuckets` are frozen properties
    * of the layout, exactly like the IVF quantizer.
    */
  def append(spark: SparkSession, path: String, batch: DataFrame,
      idCol: String, textCol: String): Unit = {
    val (nBuckets, shingle) = readMeta(spark, path)
    val pinned = batch.where(col(textCol).isNotNull)
      .select(col(idCol).as("id"), col(textCol).as("__text"))
      .localCheckpoint(true)
    val sets = shingleSetsOf(pinned, "id", "__text", shingle).localCheckpoint(true)
    sets.write.mode("append").parquet(s"$path/shingles")
    postingsOf(sets, nBuckets).repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(s"$path/shingle_postings")
    bandsOf(pinned, "id", "__text", shingle, nBuckets).repartition(col("pbucket"))
      .write.mode("append").partitionBy("pbucket").parquet(s"$path/band_postings")
  }

  /** `foreachBatch` sink for continuous near-dup index maintenance
    * (D18 — the D16 appendSink shape for the text index): each
    * microbatch of a document stream appends all three representations
    * via [[append]], from one pinned materialization per batch; the
    * layout's frozen nBuckets/shingle come from the saved meta, and the
    * indexed corpus is never rescanned. StreamingSpec gate: post-stream
    * store contents == a one-shot append over the same rows, and a
    * probe finds cross-batch planted twins.
    */
  def appendSink(
      spark: SparkSession,
      path: String,
      idCol: String,
      textCol: String): (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, _) => append(spark, path, batch.toDF(), idCol, textCol)

  /** Distinct bucket values of `df.col(c)` — bounded by nBuckets values
    * by construction, so the collect is driver-sized regardless of batch
    * size. Feeds the probe scans' partition pruning.
    */
  private def bucketList(df: DataFrame, c: String): Seq[Long] =
    df.select(col(c)).distinct().collect().map(_.getLong(0)).toSeq

  /** The probes' pruned postings scans (package-visible so the spec can
    * pin the PartitionFilters — the probe results themselves are eager
    * CacheScope checkpoints whose executed plans no longer show the
    * scan).
    */
  private[graft] def prunedShinglePostings(store: Store, buckets: Seq[Long]): DataFrame =
    store.shinglePostings.where(col("bucket").isin(buckets: _*))
  private[graft] def prunedBandPostings(store: Store, pbuckets: Seq[Long]): DataFrame =
    store.bandPostings.where(col("pbucket").isin(pbuckets: _*))

  /** The probes' shared frame: the batch's shingle sets persisted for
    * the call, `cands` derives (batch_id, corpus_id) candidates from them,
    * and every candidate is verified by EXACT Jaccard over the stored
    * shingle sets — emitted pairs are never approximate.
    */
  private def verifiedProbe(store: Store, batch: DataFrame, idCol: String, textCol: String,
      threshold: Double)(cands: DataFrame => DataFrame): DataFrame =
    CacheScope.withPersisted(shingleSetsOf(batch, idCol, textCol, store.shingle)) { batchSets =>
      cands(batchSets)
        .join(batchSets.select(col("id").as("batch_id"), col("sh").as("sh_b")), Seq("batch_id"))
        .join(store.shingleSets.select(col("id").as("corpus_id"), col("sh").as("sh_c")),
          Seq("corpus_id"))
        .withColumn("jaccard", Shingling.jaccard(col("sh_b"), col("sh_c")))
        .where(col("jaccard") >= threshold)
        .select(col("batch_id"), col("corpus_id"), col("jaccard"))
    }

  /** Distinct (batch_id, corpus_id) pairs whose probe row and pruned
    * corpus posting share `keys`, where a key with more than `maxMembers`
    * corpus members is dropped (the skew guard). Pruning keeps whole key
    * groups, so the count on the pruned scan IS the global count.
    */
  private def cappedCandidates(probe: DataFrame, pruned: DataFrame, keys: Seq[String],
      maxMembers: Int): DataFrame = {
    val usable = pruned.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .where(col("n") <= maxMembers)
      .select(keys.map(col): _*)
    probe
      .join(pruned.join(usable, keys).select(keys.map(col) :+ col("id").as("corpus_id"): _*), keys)
      .select("batch_id", "corpus_id").dropDuplicates("batch_id", "corpus_id")
  }

  /** EXACT near-dup pairs (batch_id, corpus_id, jaccard >= threshold):
    * candidates share >= 1 exact shingle whose CORPUS document frequency
    * is <= `maxShingleFreq` (the C4 skew guard — boilerplate shingles
    * with huge posting lists are excluded). Complete modulo that cap;
    * fully SQL-mirrorable.
    */
  def probeExact(store: Store, batch: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxShingleFreq: Int = 100): DataFrame =
    verifiedProbe(store, batch, idCol, textCol, threshold) { batchSets =>
      val probe = postingsOf(batchSets, store.nBuckets)
        .select(col("s"), col("bucket"), col("id").as("batch_id"))
      cappedCandidates(probe, prunedShinglePostings(store, bucketList(probe, "bucket")),
        Seq("s"), maxShingleFreq)
    }

  /** MinHash-banded near-dup pairs — the bounded-candidate scale path:
    * candidates co-band (any of the 16 bands collides) within buckets of
    * at most maxBucketSize corpus members, then the exact-Jaccard verify
    * over the stored shingle sets keeps only true >= threshold pairs.
    * Recall at J: 1-(1-J^4)^16 (≈ 1 at J >= 0.9, exactly 1 for identical
    * texts — every band collides); gated by planted-truth specs like C2.
    */
  def probeBanded(store: Store, batch: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxBucketSize: Int = 1000): DataFrame =
    verifiedProbe(store, batch, idCol, textCol, threshold) { _ =>
      val probe = bandsOf(batch, idCol, textCol, store.shingle, store.nBuckets)
        .select(col("band"), col("bucket"), col("pbucket"), col("id").as("batch_id"))
      cappedCandidates(probe, prunedBandPostings(store, bucketList(probe, "pbucket")),
        Seq("band", "bucket"), maxBucketSize)
    }

  /** Per-batch-doc ingestion decision over [[probeExact]]: every
    * non-null-text batch row with its corpus near-dup count, best match
    * score, and the keep/drop verdict — the q_dedup_incremental_near
    * surface.
    */
  def statsExact(store: Store, batch: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxShingleFreq: Int = 100): DataFrame = {
    val pairs = probeExact(store, batch, idCol, textCol, threshold, maxShingleFreq)
    val perDoc = pairs.groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_matches"), max(col("jaccard")).as("max_jaccard"))
    batch.where(col(textCol).isNotNull)
      .select(col(idCol).as("batch_id"))
      .join(perDoc, Seq("batch_id"), "left")
      .select(
        col("batch_id").as(idCol),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("max_jaccard"), lit(0.0)).as("max_jaccard"),
        (coalesce(col("n_matches"), lit(0L)) === 0L).as("is_new"))
  }
}
