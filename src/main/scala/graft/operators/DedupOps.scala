package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines, from cheap to
 * thorough: exact-hash, MinHash+LSH, SimHash, exact n-gram Jaccard.
 *
 * Scale design: every near-dup path is LSH-shaped — candidates come from
 * equality joins on bucket keys (shuffle-partitionable, skew-safe), never
 * from an O(n²) cross join. The only quadratic step is *within* a bucket,
 * whose size is bounded by the banding parameters.
 *
 * Hashing that reaches RESULTS (minhash signatures, simhash bits,
 * fingerprints) uses md5 so every value is reproducible across engines
 * and languages — the DuckDB oracles recompute them from the strings.
 * Hashes that only serve as internal equality keys (jaccard shingle
 * grouping) use xxhash64. The per-document signature functions run as
 * one-pass codegen kernels (MinhashSig/Simhash60/ShingleHashes), each
 * proven value-identical to its column/aggregation formulation in
 * OperatorSpec.
 */
/**
 * LSH blocking knobs for [[DedupOps.editDistancePairs]]. A dedicated
 * type (not flat defaulted Ints) so that changing the blocking scheme
 * can never silently re-interpret a positional call site — see the
 * round-7 word-shingle → char-gram change documented on the method.
 */
final case class EditBlocking(k: Int = 16, bands: Int = 8,
                              gram: Int = 8, maxBucket: Int = 64) {
  require(k >= 1 && bands >= 1 && k % bands == 0,
    s"k must be a positive multiple of bands, got k=$k bands=$bands")
  require(gram >= 1, s"gram >= 1, got $gram")
  require(maxBucket >= 2, s"maxBucket >= 2, got $maxBucket")
}

object DedupOps {

  /**
   * Within-group unordered-pair expansion shared by the grouped-pairs
   * family (minhash buckets, co-shingle groups, winnow fingerprint
   * groups): emits each {a, b} pair of the distinct `ids` array exactly
   * once as struct(id_a = min, id_b = max). Positional tail-slicing
   * generates only the C(n,2) pairs — the previous formulation built
   * all n² structs and filtered half away (plus the diagonal), which
   * doubled the dominant cost of every bucket² expansion (measured:
   * d_dedup_containment 39.7 s → 21.6 s summed task time at sf0.1).
   * least/greatest give the canonical orientation without sorting the
   * group. REQUIRES distinct ids (true for every caller: band frames
   * are (id, band)-unique, shingle/fingerprint kernels are per-doc
   * distinct) — a duplicated id would emit an (a, a) row the old
   * id_a < id_b filter dropped.
   */
  private[graft] def orderedPairs(idsCol: String) = expr(
    s"flatten(transform($idsCol, (x, i) -> " +
      s"transform(slice($idsCol, i + 2, size($idsCol) - i - 1), " +
      "y -> struct(least(x, y) as id_a, greatest(x, y) as id_b))))")

  /** Word w-shingles (default w=3) as a distinct array. */
  def shingles(text: Column, w: Int = 3): Column = {
    val ws = TextOps.words(text)
    array_distinct(
      when(size(ws) < w, array(array_join(ws, " ")))
        .otherwise(transform(
          sequence(lit(1), size(ws) - (w - 1)),
          i => array_join(slice(ws, i, lit(w)), " "))))
  }

  /**
   * Exact dedup: group by content fingerprint, keep the smallest id as
   * canonical. Output: (fingerprint, canonical_id, dup_count).
   */
  def exactDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("id"), TextOps.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(col("id")).as("canonical_id"), count(lit(1)).as("dup_count"))

  /**
   * Apply-form exact dedup: RETURNS THE SURVIVING ROWS (all input
   * columns), keeping the smallest-id doc per content fingerprint.
   * One scan + one shuffle (window by fingerprint) — no aggregate+join
   * double scan, which is what makes this the shape to compose into
   * larger corpus-construction plans.
   */
  def dropExactDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(TextOps.fingerprint(col(textCol)))
      .orderBy(col(idCol))
    docs.withColumn("rn", row_number().over(win))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /**
   * URL-identity dedup — the crawl-frontier pass that runs BEFORE any
   * content fetch: documents whose source URLs canonicalize to the
   * same resource ([[TextOps.canonicalUrl]]: scheme/www/fragment/
   * utm-param/trailing-slash invariant) collapse to one cluster. The
   * first URL in the text is the doc's source locator. Emits one row
   * per canonical resource with the duplicate count and smallest-id
   * canonical doc; docs with no URL are ignored (nothing to key on).
   *
   * One extract projection + one hash aggregate on the canonical
   * string — the exactDuplicates shape keyed on identity instead of
   * content, so it dedups pages whose FETCHED bytes differ (ads,
   * timestamps) but whose resource is one.
   */
  def urlDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val url = regexp_extract(col(textCol), "[hH][tT][tT][pP][sS]?://[^\\s]+", 0)
    docs
      .select(col(idCol).as("id"), TextOps.canonicalUrl(url).as("canonical_url"))
      .filter(col("canonical_url") =!= "")
      .groupBy("canonical_url")
      .agg(min("id").as("canonical_id"), count(lit(1)).as("dup_count"))
  }

  /**
   * SOFT dedup: keep EVERY copy but down-weight each to
   * `1e6 // cluster_size` ppm so a duplicated document contributes
   * (about) one document's worth of gradient — the training-mixture
   * alternative to hard removal when near-boundary duplicates carry
   * distinct metadata (different sources, licenses, timestamps) you
   * don't want to pick a single winner among. The per-cluster
   * residue `1e6 − size·weight` is emitted too: at million-copy
   * scale truncation loses up to `size−1` ppm per cluster, and the
   * residue column is what a weight-budget audit sums.
   *
   * One window by content fingerprint (same shuffle as
   * [[dropExactDuplicates]] — this is its keep-everything sibling);
   * no join, no second scan. Canonical flag = smallest id, so a hard
   * dedup downstream can still filter `is_canonical = 1` and get
   * exactly [[dropExactDuplicates]]' survivors.
   */
  def softDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val byFp = org.apache.spark.sql.expressions.Window
      .partitionBy(TextOps.fingerprint(col(textCol)))
    val rank = byFp.orderBy(col(idCol))
    docs
      .withColumn("dup_count", count(lit(1)).over(byFp))
      .withColumn("rn", row_number().over(rank))
      .select(col(idCol).as("id"), col("dup_count"),
        IntDiv(lit(1000000L), col("dup_count")).cast("long").as("weight_ppm"),
        (lit(1000000L) - col("dup_count") * IntDiv(lit(1000000L), col("dup_count")))
          .cast("long").as("cluster_residue_ppm"),
        when(col("rn") === 1, 1L).otherwise(0L).as("is_canonical"))
  }

  /**
   * Incremental exact dedup: which docs of a NEW batch survive against
   * an already-accepted corpus — the document-side analogue of the
   * metrics exists-cache (dedup against everything crawled so far
   * without rescanning it). `knownFps` is the accepted corpus's
   * fingerprint column (persist it alongside the corpus; at scale this
   * is a fingerprint-partitioned table, and the anti-join shuffles only
   * the new batch against it). Within the batch, the smallest id per
   * fingerprint wins, like [[exactDuplicates]].
   * Output: (id, fp) of surviving new docs.
   */
  def incrementalDeduplicate(newDocs: DataFrame, idCol: String, textCol: String,
                             knownFps: DataFrame): DataFrame =
    newDocs
      .select(col(idCol).as("id"), TextOps.fingerprint(col(textCol)).as("fp"))
      .join(knownFps.select(col(knownFps.columns.head).as("fp")), Seq("fp"), "left_anti")
      .groupBy("fp").agg(min(col("id")).as("id"))
      .select("id", "fp")

  /**
   * [[incrementalDeduplicate]] behind a Bloom pre-filter — the shape
   * for a corpus whose fingerprint table is too large to anti-join
   * every batch against in full. A Bloom filter over the accepted
   * fingerprints (built distributed via `stat.bloomFilter`, living on
   * the driver like any model artifact: ~1.2 GB at 10^9 fps / 1% fpp)
   * splits the batch: mightContain=false docs are DEFINITELY new (no
   * false negatives) and skip the join entirely; only the
   * mightContain=true sliver — true duplicates plus the fpp share of
   * the batch — pays the exact anti-join. The result is therefore
   * BIT-IDENTICAL to [[incrementalDeduplicate]] (equivalence oracle
   * `d_dedup_incremental_bloom`): the sketch only routes, it never
   * decides membership.
   *
   * The filter is an explicit broadcast, NOT closure capture (contrast
   * KMeansOps.cellsUdf): a corpus-sized Bloom is MBs-GBs, exactly what
   * torrent broadcast exists for. LIFECYCLE: this form builds the
   * filter, EAGERLY materializes the (batch-sized) survivor set, and
   * destroys the broadcast before returning — N calls in a loop hold
   * at most one filter's worth of blocks at a time (the round-5
   * VERDICT leak). The price is that the result is data, not a lazy
   * plan; a long-lived caller that wants to amortize one filter across
   * many lazy batch plans builds it once per compaction epoch and uses
   * [[incrementalDeduplicateBloomWith]], owning the handle like
   * DocStream's generation scheme does.
   */
  def incrementalDeduplicateBloom(newDocs: DataFrame, idCol: String, textCol: String,
                                  knownFps: DataFrame, expectedItems: Long = 1000000L,
                                  fpp: Double = 0.01): DataFrame = {
    val spark = org.apache.spark.sql.SparkSession.active
    val fpCol = knownFps.columns.head
    val bloom = knownFps.stat.bloomFilter(col(fpCol), expectedItems, fpp)
    val bloomB = spark.sparkContext.broadcast(bloom)
    // eager checkpoint = the plan is consumed HERE, batch-sized blocks;
    // after it the filter has no remaining consumer and can be destroyed
    try incrementalDeduplicateBloomWith(newDocs, idCol, textCol, knownFps, bloomB)
      .localCheckpoint(true)
    finally bloomB.destroy()
  }

  /**
   * [[incrementalDeduplicateBloom]] with a CALLER-OWNED filter handle:
   * returns the lazy routed plan and never touches the broadcast's
   * lifecycle — build the filter once per compaction epoch, reuse it
   * across every batch of the epoch, and unpersist/destroy it on
   * rebuild (exactly [[graft.streaming.DocStream]]'s generation
   * scheme). Result is bit-identical to [[incrementalDeduplicate]]:
   * the sketch only routes, it never decides membership.
   */
  def incrementalDeduplicateBloomWith(newDocs: DataFrame, idCol: String, textCol: String,
                                      knownFps: DataFrame,
                                      bloomB: org.apache.spark.broadcast.Broadcast[
                                        org.apache.spark.util.sketch.BloomFilter]): DataFrame = {
    val fpCol = knownFps.columns.head
    val mightContain = udf((fp: String) => fp != null && bloomB.value.mightContainString(fp))
    val withFp = newDocs
      .select(col(idCol).as("id"), TextOps.fingerprint(col(textCol)).as("fp"))
    val survivors = withFp.filter(!mightContain(col("fp")))
      .unionByName(withFp.filter(mightContain(col("fp")))
        .join(knownFps.select(col(fpCol).as("fp")), Seq("fp"), "left_anti"))
    survivors.groupBy("fp").agg(min(col("id")).as("id")).select("id", "fp")
  }

  /**
   * MinHash + LSH candidate pairs: k signatures banded into `bands` bands
   * of k/bands rows each; docs sharing any band bucket are candidates.
   * Output: distinct (id_a, id_b) with id_a < id_b.
   *
   * Probability a pair with Jaccard j collides: 1-(1-j^(k/bands))^bands.
   *
   * Plan shape: ONE aggregation over the exploded shingle rows computes
   * all k min-hashes as separate agg columns (map-side partial min, no
   * seed cross-join — a k-fold shuffle reduction vs the naive matrix),
   * then bands explode k/bands-sized groups into join keys.
   */
  /** (id, band, bandval) LSH band frame — the shared blocking surface
    * of [[minhashCandidates]] (self-pairs) and [[crossContamination]]
    * (two-table pairs). */
  private def minhashBanded(docs: DataFrame, idCol: String, textCol: String,
                            k: Int, bands: Int, w: Int,
                            charGrams: Boolean = false): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rowsPerBand = k / bands
    // Spread: the k·shingles md5 pass is the cost center — don't let a
    // single-row-group file serialize it (no-op at real corpus scale)
    val sig = Spread(docs.filter(col(textCol).isNotNull))
      .select(col(idCol).as("id"), MinhashSig(col(textCol), k, w, charGrams).as("mh"))
    // band value: seed-tagged minhashes of the band, sorted and joined --
    // byte-identical to the (id, seed) matrix formulation
    val bandStructs = array((0 until bands).map { b =>
      val members = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(s => concat(lit(s.toString), lit("~"), element_at(col("mh"), s + 1)))
      struct(lit(b).as("band"), array_join(array_sort(array(members: _*)), "|").as("bandval"))
    }: _*)
    sig.select(col("id"), explode(bandStructs).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bandval").as("bandval"))
  }

  /** `maxBucket` caps band-bucket size (stop-bucket removal): a band
    * value shared by thousands of docs is non-discriminative — its
    * bucket² pair contribution is almost entirely false positives,
    * while true near-dup pairs agree on MANY bands and survive via a
    * small bucket elsewhere. Default unbounded: the word-shingle
    * detectors' buckets stay small on prose; the char-gram edit path
    * overrides it (measured below). */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 16, bands: Int = 4, w: Int = 3,
                        charGrams: Boolean = false,
                        maxBucket: Int = Int.MaxValue): DataFrame = {
    // signature as a PROJECTION (MinhashSig.scala): a minhash signature
    // is a pure per-document function, so no exploded-shingle shuffle
    // and no k min-agg trees — value-identical to the aggregation
    // formulation (OperatorSpec equivalence test) and to the DuckDB
    // oracle, which still aggregates over shingle strings. Null-text
    // docs are dropped (matching the explode+groupBy formulation, which
    // emitted no row for them) — without the filter their null
    // signatures would all share one empty bandval and form a single
    // quadratic bucket. The filter is on the TEXT column, not the
    // signature: MinhashSig is null iff its input is, and a filter on
    // the projected signature would be pushed below the projection and
    // re-evaluate the kernel per row (measured +70% on this query).
    val banded = minhashBanded(docs, idCol, textCol, k, bands, w, charGrams)
    // grouped-pairs plan (the jaccardPairs shape) instead of a band
    // self-join: a self-join reads the corpus and runs the signature
    // kernel TWICE (once per side — exchange reuse can't help when the
    // planner broadcasts a side); grouping co-banded ids per bucket
    // runs the kernel once and generates pairs with codegen'd array ops
    // bounded by bucket-size² — the same quadratic the join had.
    banded.groupBy("band", "bandval").agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) >= 2 && size(col("ids")) <= maxBucket)
      .select(explode(orderedPairs("ids")).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()
  }

  /**
   * Exact n-gram Jaccard similarity for candidate pairs, computed via a
   * shingle equality join (no cross join): |A∩B| from the join,
   * |A∪B| = |A|+|B|-|A∩B|. Output pairs with similarity >= minJaccard.
   *
   * `maxShingleDf` caps the document frequency of shingles entering the
   * self-join (standard stop-shingle removal): one boilerplate sentence
   * shared by 1M docs would otherwise fan the co-shingle join out to 10¹²
   * rows. Shingles above the cap are removed from the UNIVERSE (both
   * intersection and set sizes), so the score stays a true Jaccard over
   * the retained shingles. Default 10⁴ is inactive on any corpus where a
   * shingle isn't shared by >10k docs.
   */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   minJaccard: Double, w: Int = 3,
                   maxShingleDf: Long = 10000L): DataFrame = {
    // Plan shape (2.3x faster than a two-sided self-join at sf0.1;
    // EVIDENCE.md, `d_dedup_jaccard` row): ONE shuffle of the exploded
    // shingle relation groups co-shingled doc ids per 8-byte shingle
    // hash (hashes, not strings — collision odds ~|shingles|^2 / 2^65,
    // immaterial next to any near-dup threshold); the df cap is then a
    // cheap array-size filter, pair generation is codegen'd array ops
    // bounded by cap^2 per group, and both downstream aggregates reuse
    // the same exchange (ReusedExchange — no cache() needed). An
    // ultra-hot shingle materializes df longs once before the filter
    // drops it (8 MB at df=1e6) — bounded, unlike the join fan-out it
    // replaces.
    // fused shingle+hash kernel (Shingles.scala): value-identical to
    // explode(shingles(...)) |> xxhash64, measured 3.9 s -> sub-second
    // on the pre-join stage at sf0.1
    val sh = Spread(docs).select(col(idCol).as("id"),
      explode(ShingleHashes(col(textCol), w)).as("sh"))
    val grouped = sh.groupBy("sh").agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) <= maxShingleDf)
    val sizes = grouped.select(explode(col("ids")).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n"))
    val inter = grouped
      .filter(size(col("ids")) >= 2)
      .select(explode(orderedPairs("ids")).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "na"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "nb"), "id_b")
      // threshold on the UNROUNDED similarity (round only for display):
      // rounding before the filter would admit true J down to t-5e-5,
      // which prefixJaccardPairs' exact-threshold pruning legitimately
      // drops — the two must share one threshold semantics for the
      // recall-1 equivalence to hold bit-for-bit on boundary data
      .withColumn("j", col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("j") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("j"), 4).as("jaccard"))
  }

  /**
   * Directed containment pairs: C(src→dst) = |S(src) ∩ S(dst)| /
   * |S(src)| over w-shingle sets — the asymmetric similarity Broder's
   * resemblance paper defines alongside Jaccard ("On the resemblance
   * and containment of documents", SEQUENCES 1997) and the one
   * quote-inclusion dedup actually needs: a 200-word document pasted
   * into a 5,000-word digest has Jaccard ≈ 0.04 (diluted by the big
   * doc's size) but containment ≈ 1.0 from the small side. Training
   * corpora are full of this shape (newsletter digests, forum quotes,
   * scraped aggregators), and a Jaccard threshold can't see it.
   *
   * Same single-shuffle grouped-pairs plan as [[jaccardPairs]] (one
   * exchange of 8-byte shingle hashes, df-capped groups, codegen pair
   * expansion, ReusedExchange for the size aggregate); the only delta
   * is the tail — each unordered co-shingle pair emits up to two
   * DIRECTED rows, normalized by the source side's set size. Output:
   * (src_id, dst_id, containment) where containment >= the threshold,
   * src's shingles sitting inside dst.
   */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       minContainment: Double, w: Int = 3,
                       maxShingleDf: Long = 10000L): DataFrame = {
    val sh = Spread(docs).select(col(idCol).as("id"),
      explode(ShingleHashes(col(textCol), w)).as("sh"))
    val grouped = sh.groupBy("sh").agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) <= maxShingleDf)
    val sizes = grouped.select(explode(col("ids")).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n"))
    val inter = grouped
      .filter(size(col("ids")) >= 2)
      .select(explode(orderedPairs("ids")).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    val joined = inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "na"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "nb"), "id_b")
    joined.select(col("id_a").as("src_id"), col("id_b").as("dst_id"),
        round(col("inter").cast("double") / col("na").cast("double"), 4).as("containment"))
      .unionByName(joined.select(col("id_b").as("src_id"), col("id_a").as("dst_id"),
        round(col("inter").cast("double") / col("nb").cast("double"), 4).as("containment")))
      .filter(col("containment") >= minContainment)
  }

  /**
   * The 100 TB near-dup path: LSH candidate generation + exact Jaccard
   * verification restricted to candidate pairs. `jaccardPairs` compares
   * every co-shingled pair — exact but quadratic in bucket skew;
   * this composition only pays exact-verification cost for pairs that
   * already collided in a band, which is how dedup runs at corpus scale.
   */
  def nearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                     minJaccard: Double, k: Int = 16, bands: Int = 4, w: Int = 3): DataFrame = {
    // candidate pairs materialize ONCE (16 bytes/pair): referencing the
    // lazy pipeline twice (ids + verify join) would re-run the whole
    // minhash candidate generation per reference
    val cand = minhashCandidates(docs, idCol, textCol, k, bands, w).localCheckpoint()
    // exact verification only ever touches docs that appear in a
    // candidate pair, so the shingle explosion is SEMI-JOINED down to
    // them first — at corpus scale near-dup candidates are a small
    // fraction, and exploding shingles over the full corpus (the
    // previous shape) was the dominant verify cost
    val candIds = cand.select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val candDocs = docs.select(col(idCol).as("id"), col(textCol).as("text"))
      .join(candIds, "id")
    val sh = candDocs.select(col("id"), explode(ShingleHashes(col("text"), w)).as("sh"))
    // set sizes via the array length of the SAME kernel — a projection,
    // not another explode+groupBy shuffle
    val sizes = candDocs.select(col("id"), size(ShingleHashes(col("text"), w)).cast("long").as("n"))
    val inter = cand
      .join(sh.as("x"), col("id_a") === col("x.id"))
      .join(sh.as("y"), col("id_b") === col("y.id") && col("x.sh") === col("y.sh"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "na"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "nb"), "id_b")
      .withColumn("jaccard", round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /**
   * MinHash sketch-accuracy audit: for every LSH candidate pair, the
   * signature-agreement Jaccard ESTIMATE (matching minhashes / k, in
   * ppm) next to the EXACT shingle Jaccard and the signed error — the
   * calibration table a pipeline reads before trusting banding
   * parameters at a new k (the estimate's standard error is
   * √(J(1−J)/k); with k=16 that is ±12 points at J=0.5, and this
   * operator is how you SEE that before it bites a threshold).
   *
   * Plan: candidates checkpoint once (16 bytes/pair); the exact side
   * is [[nearDuplicates]]' semi-joined shingle intersection; the
   * estimate side joins the k-string signature projection to the
   * pairs by id — signatures are k·32 hex chars, the candidate frame
   * is pair-sized, text never moves after the kernels.
   */
  def minhashEstimateAudit(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 16, bands: Int = 4, w: Int = 3): DataFrame = {
    val cand = minhashCandidates(docs, idCol, textCol, k, bands, w).localCheckpoint()
    val candIds = cand.select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val candDocs = docs.select(col(idCol).as("id"), col(textCol).as("text"))
      .join(candIds, "id")
    val sh = candDocs.select(col("id"), explode(ShingleHashes(col("text"), w)).as("sh"))
    val sizes = candDocs.select(col("id"), size(ShingleHashes(col("text"), w)).cast("long").as("n"))
    val sig = candDocs.select(col("id"), MinhashSig(col("text"), k, w, false).as("mh"))
    val inter = cand
      .join(sh.as("x"), col("id_a") === col("x.id"))
      .join(sh.as("y"), col("id_b") === col("y.id") && col("x.sh") === col("y.sh"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
    // LEFT join: a candidate pair with an EMPTY intersection (banding
    // can collide docs that share no retained shingle) still audits,
    // with inter = 0
    cand
      .join(inter, Seq("id_a", "id_b"), "left")
      .na.fill(0L, Seq("inter"))
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "na"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "nb"), "id_b")
      .join(sig.select(col("id").as("id_a"), col("mh").as("mh_a")), "id_a")
      .join(sig.select(col("id").as("id_b"), col("mh").as("mh_b")), "id_b")
      .withColumn("agree",
        size(filter(zip_with(col("mh_a"), col("mh_b"), (x, y) => x === y),
          b => b)).cast("long"))
      .select(col("id_a"), col("id_b"), col("agree"),
        IntDiv(col("agree") * 1000000L, lit(k.toLong)).as("est_ppm"),
        IntDiv(col("inter") * 1000000L, col("na") + col("nb") - col("inter")).as("jacc_ppm"))
      .withColumn("err_ppm", col("est_ppm") - col("jacc_ppm"))
  }

  /**
   * 60-bit SimHash per document from word hashes: bit b of the hash is 1
   * iff the sum over words of ±1 (by bit b of the word hash) is positive.
   * Word hash = first 15 hex chars of md5 (60 bits, engine-portable).
   */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // one-pass projection kernel (Simhash60.scala): a simhash is a pure
    // per-document function, so no word explode, no shuffle, no typed
    // Aggregator — and no integral-id restriction (the groupBy is gone).
    // Wordless docs are dropped, exactly like the explode-based
    // formulation that emitted no row for them (OperatorSpec equivalence
    // test). The wordless test runs BEFORE the projection as a cheap
    // regex — the kernel is null iff the text has no non-\s char, and a
    // filter on the projected signature would be pushed below the
    // projection and re-evaluate the whole md5-per-word kernel per row
    // (the same +70% trap measured on the minhash query).
    Spread(docs.filter(col(textCol).isNotNull && col(textCol).rlike("\\S")))
      .select(col(idCol).as("id"), Simhash60(col(textCol)).as("simhash"))

  /**
   * SimHash near-dup pairs with Hamming distance <= maxDist. Bucketed by
   * maxDist+1 disjoint hash segments (pigeonhole: any pair within the
   * distance bound shares at least one exact segment), so candidate
   * generation is an equality join — no cross join at any scale.
   * Default: maxDist 9 -> 10 segments of 6 bits over the 60-bit hash.
   *
   * Scale knob: bucket density is ~n / 2^(60/(maxDist+1)), so candidate
   * volume grows quadratically with corpus size at fixed maxDist. The
   * DEFAULT (maxDist not passed) therefore routes through the
   * corpus-priced pick of [[simhashAutoSegments]] — the first API a
   * user reaches is the one that survives a 100x corpus. Pass maxDist
   * explicitly only when a specific Hamming bound is contractual
   * (maxDist 9 = the historical fixed default); or move to the
   * minhash/LSH family whose band values are unbounded-cardinality
   * strings.
   */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = -1): DataFrame = {
    // materialize the signatures ONCE: the relation is 16 bytes/doc (id
    // + 60-bit hash), so caching it is O(corpus-count), not O(text) —
    // without it each self-join side re-scans the corpus and re-runs the
    // md5-per-word kernel
    val sh = simhash(docs, idCol, textCol).localCheckpoint()
    val segments =
      if (maxDist < 0) simhashAutoSegments(sh.count())
      else {
        val s = maxDist + 1
        require(60 % s == 0, s"need segments ($s) dividing 60")
        s
      }
    simhashPairsFromSigs(sh, segments)
  }

  /**
   * The segment count [[simhashPairsAuto]] picks for a corpus of `n`
   * signatures: the LARGEST pigeonhole split (= widest Hamming
   * tolerance, maxDist = segments-1) whose expected bucket density
   * n / 2^(60/segments) stays <= `targetDensity` — candidate volume per
   * segment is ~n * density / 2, so holding density constant holds the
   * candidate count LINEAR in corpus size where a fixed split grows it
   * quadratically. Splits walk the divisors of 60: 10 segments (6-bit
   * buckets, the manual default), 6, 5, 4, 3, then 2 (30-bit buckets —
   * enough for billions of docs at the default density). Deterministic
   * in n, so the DuckDB oracle replays the same pick from the same
   * count.
   *
   * At targetDensity=128 the pick goes 10 / 6 / 5 at sf0.01 / sf0.1 /
   * sf1 of the synthetic corpus (5k / 50k / 500k docs) — the ScaleCurve
   * evidence row; a 100M-doc corpus lands at 3 segments (20-bit
   * buckets, maxDist 2), and past ~17B docs the split floors at 2.
   */
  def simhashAutoSegments(n: Long, targetDensity: Long = 128L): Int =
    Seq(10, 6, 5, 4, 3).find(s => n <= targetDensity * (1L << (60 / s))).getOrElse(2)

  /**
   * [[simhashPairs]] with the segment width chosen FROM THE CORPUS
   * (via [[simhashAutoSegments]]) instead of a manual maxDist: one
   * count of the 16-byte/doc signature relation (already materialized
   * for the join) prices the corpus, then the widest density-safe
   * split runs. The returned pairs satisfy hamming <= chosen
   * segments - 1; the choice itself is replayable by any engine that
   * can count the same corpus.
   */
  def simhashPairsAuto(docs: DataFrame, idCol: String, textCol: String,
                       targetDensity: Long = 128L): DataFrame = {
    val sh = simhash(docs, idCol, textCol).localCheckpoint()
    simhashPairsFromSigs(sh, simhashAutoSegments(sh.count(), targetDensity))
  }

  private def simhashPairsFromSigs(sh: DataFrame, segments: Int): DataFrame = {
    val maxDist = segments - 1
    val segBits = 60 / segments
    val segMask = (1L << segBits) - 1
    val seg = sh.select(col("id"), col("simhash"),
        explode(sequence(lit(0), lit(segments - 1))).as("seg"))
      .withColumn("segval", expr(s"shiftright(simhash, cast(seg * $segBits as int)) & $segMask"))
    // SELF-JOIN here, deliberately NOT the minhash grouped-pairs plan:
    // 6-bit segments have only 64 bucket values, so buckets hold ~n/64
    // docs and grouped pairs would MATERIALIZE bucket² struct arrays per
    // group (measured 43 s vs 3 s at sf0.1). The join streams the same
    // quadratic through codegen with the hamming filter applied in the
    // stream. The Simhash60 kernel runs once per side — the join's cost,
    // but the cheaper one in this bucket-density regime.
    val a = seg.select(col("seg"), col("segval"), col("id").as("id_a"), col("simhash").as("h_a"))
    val b = seg.select(col("seg"), col("segval"), col("id").as("id_b"), col("simhash").as("h_b"))
    a.join(b, Seq("seg", "segval"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxDist) // BEFORE distinct: shrink the shuffle to survivors
      .distinct()
  }

  /**
   * Connected components over an undirected edge list by min-label
   * propagation: every node's label converges to the smallest node id
   * in its component. One join + one aggregate per round, O(component
   * diameter) rounds — near-dup clusters are short chains, so a handful
   * of rounds closes 100 TB-scale graphs (the same scheme GraphX's
   * ConnectedComponents Pregel runs, expressed as DataFrame ops so AQE
   * handles skewed hub nodes). Lineage is truncated per round with
   * localCheckpoint; convergence is detected distributedly (one count
   * of changed labels), never by collecting the labels.
   *
   * Output: (id, cluster_id) for EVERY node — singletons label
   * themselves.
   *
   * If the label propagation has not converged after `maxIterations`
   * rounds (a component with diameter > maxIterations), the returned
   * labels are only partially propagated — some cluster_id may not be
   * the component minimum. This is loudly logged; callers needing a
   * hard guarantee should raise `maxIterations` (rounds needed =
   * component diameter, so 25 covers any realistic near-dup graph).
   */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          maxIterations: Int = 25): DataFrame = {
    // materialize the edge list ONCE: every round joins against it, and
    // without the checkpoint each round would re-run the whole upstream
    // pipeline (e.g. the LSH near-dup candidate generation) per join
    val sym = edges.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(edges.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint()
    // only nodes touching an edge participate in propagation — in a
    // dedup graph that's a small fraction of the corpus; every other
    // node is a singleton that labels itself in the final join, so the
    // per-round shuffles are sized by the edge set, not the corpus
    var labels = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("cluster_id")).localCheckpoint()
    var iter = 0
    var converged = false
    while (iter < maxIterations && !converged) {
      // smallest label reachable in one hop (incl. own); labels only
      // ever DECREASE, so convergence = "no id's min dropped below its
      // own previous label", detected inside the same aggregation (no
      // extra join): prev = the min over own rows only
      val viaNeighbor = sym
        .join(labels.select(col("id").as("dst"), col("cluster_id")), "dst")
        .select(col("src").as("id"), col("cluster_id"), lit(false).as("own"))
      val step = labels.select(col("id"), col("cluster_id"), lit(true).as("own"))
        .union(viaNeighbor)
        .groupBy("id").agg(
          min(col("cluster_id")).as("cluster_id"),
          min(when(col("own"), col("cluster_id"))).as("prev"))
        .localCheckpoint()
      val changed = step.filter(col("cluster_id") < col("prev")).count()
      labels = step.select(col("id"), col("cluster_id"))
      converged = changed == 0
      iter += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"connectedComponents: label propagation did NOT converge after " +
          s"$maxIterations iterations — cluster_id may not be the component minimum " +
          s"for components with diameter > $maxIterations; raise maxIterations")
    // singletons (no incident edge) label themselves
    nodes.select(col("id"))
      .join(labels.withColumnRenamed("cluster_id", "cc"), Seq("id"), "left")
      .select(col("id"), coalesce(col("cc"), col("id")).as("cluster_id"))
  }

  /**
   * Duplicate-cluster assignment — the step that turns near-dup PAIRS
   * into per-document keep/drop decisions: components over the
   * LSH-verified pair graph, each document labeled with the smallest
   * doc id of its cluster (the canonical survivor). Singleton documents
   * are their own cluster.
   */
  def duplicateClusters(docs: DataFrame, idCol: String, textCol: String,
                        minJaccard: Double, k: Int = 16, bands: Int = 4,
                        w: Int = 3): DataFrame = {
    val pairs = nearDuplicates(docs, idCol, textCol, minJaccard, k, bands, w)
      .select("id_a", "id_b")
    connectedComponents(docs.select(col(idCol).as("id")), pairs)
  }

  /**
   * Duplicate-cluster RETENTION POLICY: for every near-dup cluster keep
   * the highest-QUALITY member ([[TextOps.qualityScore]]; ties to the
   * smaller id), not the smallest id — dedup at training scale wants
   * the best copy of each content class, not the first-crawled one.
   * Output one row per cluster (singletons canonicalize themselves):
   * (cluster_id, canonical_id, quality, n_members).
   *
   * Built on [[duplicateClusters]] (edges-sized propagation shuffles)
   * plus one quality projection and one per-cluster argmax window —
   * the window shuffles 20-byte label rows, never text.
   */
  def canonicalPerCluster(docs: DataFrame, idCol: String, textCol: String,
                          minJaccard: Double, k: Int = 16, bands: Int = 4,
                          w: Int = 3): DataFrame = {
    val clusters = duplicateClusters(docs, idCol, textCol, minJaccard, k, bands, w)
    val q = docs.select(col(idCol).as("id"), TextOps.qualityScore(col(textCol)).as("quality"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id")).orderBy(col("quality").desc, col("id").asc)
    clusters.join(q, "id")
      .withColumn("rn", row_number().over(win))
      .withColumn("n_members", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("id").as("canonical_id"), col("quality"),
        col("n_members"))
  }

  /**
   * Source-priority survivor selection: like [[canonicalPerCluster]],
   * but when a near-dup cluster spans SOURCES of different trust
   * tiers, the member from the best (lowest) `priority` wins before
   * quality is consulted (quality DESC, then id ASC break remaining
   * ties). This is the standard cross-corpus merge rule — a curated
   * source's copy of a document beats the web crawl's copy even if
   * the crawl's rendering scores a point higher — and `n_tiers` > 1
   * marks exactly the clusters where the rule changed the outcome
   * class.
   *
   * Plan shape is [[canonicalPerCluster]]'s: the cluster build does
   * all the heavy lifting; this adds one id-keyed join of a (id,
   * priority, quality) frame — text never re-shuffles — and a
   * cluster-keyed window argmax.
   */
  def priorityCanonical(docs: DataFrame, idCol: String, textCol: String,
                        priority: org.apache.spark.sql.Column, minJaccard: Double,
                        k: Int = 16, bands: Int = 4, w: Int = 3): DataFrame = {
    val clusters = duplicateClusters(docs, idCol, textCol, minJaccard, k, bands, w)
    val meta = docs.select(col(idCol).as("id"), priority.as("tier"),
      TextOps.qualityScore(col(textCol)).as("quality"))
    val byCluster = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
    val win = byCluster.orderBy(col("tier").asc, col("quality").desc, col("id").asc)
    clusters.join(meta, "id")
      .withColumn("rn", row_number().over(win))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .withColumn("n_tiers", size(collect_set(col("tier")).over(byCluster)).cast("long"))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("id").as("canonical_id"), col("tier"),
        col("n_members"), col("n_tiers"))
  }

  /**
   * Cross-corpus contamination pairs (train/test decontamination): for
   * every (corpus doc, reference doc) pair, the n-gram Jaccard over the
   * two shingle sets, kept when >= minJaccard. Same grouped-by-shingle
   * plan as [[jaccardPairs]] but across TWO relations: one shuffle
   * co-groups both sides' doc ids per 8-byte shingle hash, pair
   * generation is bounded by the df cap on the REFERENCE side (the
   * benchmark set is the small side; a boilerplate shingle shared by
   * the whole corpus cannot fan out past cap x corpus-df).
   */
  def contaminationPairs(corpus: DataFrame, corpusIdCol: String, corpusTextCol: String,
                         ref: DataFrame, refIdCol: String, refTextCol: String,
                         minJaccard: Double, w: Int = 3,
                         maxShingleDf: Long = 10000L): DataFrame = {
    val cs = corpus.select(col(corpusIdCol).as("cid"),
      explode(ShingleHashes(col(corpusTextCol), w)).as("sh"))
    val rs = ref.select(col(refIdCol).as("rid"),
      explode(ShingleHashes(col(refTextCol), w)).as("sh"))
    val csizes = cs.groupBy("cid").agg(count(lit(1)).as("nc"))
    val rsizes = rs.groupBy("rid").agg(count(lit(1)).as("nr"))
    val grouped = rs.groupBy("sh").agg(collect_list(col("rid")).as("rids"))
      .filter(size(col("rids")) <= maxShingleDf)
    val inter = cs.join(grouped, "sh")
      .select(col("cid"), explode(col("rids")).as("rid"))
      .groupBy("cid", "rid").agg(count(lit(1)).as("inter"))
    inter
      .join(csizes, "cid")
      .join(rsizes, "rid")
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("nc") + col("nr") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= minJaccard)
      .select(col("cid").as("corpus_id"), col("rid").as("ref_id"), col("jaccard"))
  }

  /**
   * Exact n-gram collision decontamination (the GPT-3-appendix method,
   * Brown et al. 2020 §C: a training document is contaminated if it
   * shares ANY exact 13-gram with a benchmark document — no similarity
   * threshold, a single collision flags the doc). Returns one row per
   * contaminated corpus doc with the count of distinct colliding
   * n-grams and of distinct reference docs hit.
   *
   * Same fused shingle kernel as [[jaccardPairs]] ([[ShingleHashes]]),
   * just with w=13; documents shorter than n words contribute one
   * whole-text shingle, so a short doc collides only on exact full-text
   * match — the conservative reading of the method. The reference side
   * is grouped per shingle with a df cap before the join, so a
   * boilerplate n-gram shared by the whole benchmark cannot fan out
   * past cap x corpus-df; the grouped ref side is benchmark-sized and
   * broadcast-able at any corpus scale. Both aggregate counts are
   * map-side combinable — at 100 TB this is one shuffle of the
   * (corpus-side) colliding shingles only.
   */
  def ngramCollisions(corpus: DataFrame, corpusIdCol: String, corpusTextCol: String,
                      ref: DataFrame, refIdCol: String, refTextCol: String,
                      n: Int = 13, maxShingleDf: Long = 10000L): DataFrame = {
    val cs = corpus.select(col(corpusIdCol).as("cid"),
      explode(ShingleHashes(col(corpusTextCol), n)).as("sh"))
    val rs = ref.select(col(refIdCol).as("rid"),
      explode(ShingleHashes(col(refTextCol), n)).as("sh"))
    val grouped = rs.groupBy("sh").agg(collect_set(col("rid")).as("rids"))
      .filter(size(col("rids")) <= maxShingleDf)
    cs.join(grouped, "sh")
      .select(col("cid"), col("sh"), explode(col("rids")).as("rid"))
      .groupBy("cid")
      .agg(countDistinct(col("sh")).as("n_grams"), countDistinct(col("rid")).as("n_refs"))
      .select(col("cid").as("corpus_id"), col("n_grams"), col("n_refs"))
  }

  /**
   * Position-level duplicated-span detection — the span analogue of
   * exact substring dedup (Lee et al., "Deduplicating Training Data
   * Makes Language Models Better", ACL 2022, which trims repeated
   * substrings rather than dropping whole documents). The suffix-array
   * construction of the paper is a single-machine algorithm; the
   * distributed re-expression is n-gram anchoring: a maximal repeated
   * substring of >= n words is exactly a maximal run of n-grams whose
   * every n-gram occurs in >= `minDocs` distinct documents, so
   * position-tagged n-grams + a document-frequency filter + an
   * interval merge recover the same spans with three shuffles and no
   * global order.
   *
   * Pipeline: (doc, pos, hash(n-gram)) instances -> per-hash distinct
   * doc count (map-side combinable) -> the >= minDocs survivors
   * semi-join back (only 8-byte hashes shuffle; gram text never
   * leaves its map task) -> per-doc gaps-and-islands merge of the
   * surviving [pos, pos+n) intervals (a lag + running-sum window,
   * partitioned by doc — no sort wider than one document's hits).
   * Docs shorter than n words have no n-gram and so no span — the
   * whole-text fallback of [[ngramCollisions]] deliberately does NOT
   * apply, because a span you would trim must be a real substring.
   *
   * Two same-length intervals merge when their position gap is <= n
   * (overlap or touch); a gap of n+1 leaves a 1-word unique gap and
   * two spans. Grams repeated only WITHIN one document don't count
   * (distinct-doc df), but once a gram is cross-doc duplicated, every
   * position of it in every holding doc is marked.
   *
   * Output: (doc_id, span_start, span_end, n_grams) — word-position
   * spans, `span_end` exclusive, span-sized (bounded by corpus dup
   * volume, not corpus size).
   */
  def duplicatedSpans(corpus: DataFrame, idCol: String, textCol: String,
                      n: Int = 13, minDocs: Int = 2): DataFrame = {
    require(n >= 1 && minDocs >= 2, s"duplicatedSpans n=$n minDocs=$minDocs")
    val wd = filter(split(col(textCol), "\\s+"), x => x =!= "")
    val grams = corpus.select(col(idCol).as("doc_id"), wd.as("wd"))
      .filter(size(col("wd")) >= n)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("wd")) - n),
        i => struct(i.as("pos"),
          xxhash64(concat_ws(" ", slice(col("wd"), i + 1, lit(n)))).as("gh")))).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.gh").as("gh"))
    val dup = grams.groupBy("gh")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= minDocs)
      .select("gh")
    val hits = grams.join(dup, "gh").select("doc_id", "pos")
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("prev", lag(col("pos"), 1).over(byDoc))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") > n, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(byDoc.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + n).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_grams"))
  }

  /**
   * Corpus snapshot diff: classify every id across two corpus versions
   * as `added | removed | changed | same` by comparing
   * [[TextOps.fingerprint]]s — the audit step before promoting a new
   * crawl (how many docs did the pipeline silently rewrite?) and the
   * input to incremental re-processing (only `added`/`changed` need
   * the expensive stages re-run).
   *
   * Scale: both sides project to (id, 32-byte fingerprint) BEFORE the
   * single same-key full-outer shuffle — text never moves. Output is
   * id-set-sized.
   */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    val o = oldDocs.select(col(idCol).as("id"),
      TextOps.fingerprint(col(textCol)).as("fp_old"))
    val n = newDocs.select(col(idCol).as("id"),
      TextOps.fingerprint(col(textCol)).as("fp_new"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("fp_old").isNull, "added")
          .when(col("fp_new").isNull, "removed")
          .when(col("fp_old") === col("fp_new"), "same")
          .otherwise("changed").as("status"))
  }

  /**
   * EXACT set-similarity join via prefix filtering (the AllPairs /
   * PPJoin family) — recall 1 where every LSH detector here is
   * probabilistic. For Jaccard threshold t, two shingle sets can only
   * reach t if they share a token among each one's PREFIX: the first
   * p = s − ⌈t·s⌉ + 1 tokens under a GLOBAL rarest-first order
   * (df asc, token asc). So candidates come from an equi join over
   * prefix tokens only — and because the order puts the rarest tokens
   * in the prefix, those join groups are the corpus's SMALLEST: the
   * frequent-token explosion that forces [[jaccardPairs]]'s df cap
   * never enters the candidate join at all. The length filter
   * (t·sa ≤ sb ∧ t·sb ≤ sa) prunes inside the join condition.
   *
   * Scale shape: one df aggregate (token-count rows), per-doc sort of
   * its own tokens (projection-local, no global rank window), prefix
   * explode of ~s(1−t)+1 tokens per doc, candidate equi join carrying
   * only 8-byte ids + positions (PPJoin positional filter — see the
   * inline note), then a per-pair `array_intersect` verify over the
   * SAME checkpointed token arrays the prefix came from (one build,
   * two readers; no per-pair shingle fan-out join). At t=0.8 the
   * prefix is a fifth of each doc's tokens and group sizes are
   * bounded by rare-token df — subquadratic on real corpora WITHOUT
   * the recall trade. Results are exactly the threshold-t Jaccard
   * pairs (the oracle is the brute-force join). Growth shape and the
   * corpus-size routing guidance live in SCALING.md: exactness makes
   * candidate count grow with TRUE near-dup density, so past the
   * point where near-dups themselves are super-linear, route to
   * [[nearDuplicates]] (LSH, probabilistic) and accept its recall
   * envelope — no knob on this operator can bound an exact answer
   * that is itself quadratic.
   */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                         minJaccard: Double, w: Int = 3): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard in (0,1], got $minJaccard")
    // no Spread here: the shingle kernel is cheap xxhash (not md5) and
    // every consumer shuffles anyway — measured 1.8 -> 2.5 s WITH the
    // extra repartition, so the undersubscription guard stays off
    val toks = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), explode(ShingleHashes(col(textCol), w)).as("tok"))
    val dfreq = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    // per-doc tokens in global rarest-first order; the sort is LOCAL to
    // each doc's own array — no global ranking shuffle. Checkpointed:
    // both the prefix explode AND the verify read it, and it is the
    // single most expensive relation here (the token df join + per-doc
    // regroup over the full corpus) — rebuilding it for the verify was
    // ~40% of the operator's sf1 wall time.
    val sorted = toks.join(dfreq, "tok")
      .groupBy("id")
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("ts"))
      .select(col("id"), col("ts"),
        size(col("ts")).cast("long").as("s"))
      .localCheckpoint()
    val pref = sorted
      .select(col("id"), col("s"),
        posexplode(slice(col("ts"), lit(1),
          (col("s") - ceil(lit(minJaccard) * col("s")) + 1).cast("int"))))
      .select(col("id"), col("s"), col("pos"), col("col.tok").as("tok"))
    // PPJoin POSITIONAL filter on top of AllPairs prefix+length: a row
    // matching token at 0-based positions (i, j) of the two sorted
    // arrays bounds the pair's total overlap by
    //   min(i, j)          common tokens can precede it (global order
    //                      is shared, so earlier commons sit earlier
    //                      on BOTH sides), plus
    //   1 + min(sa-i-1, sb-j-1)  from this token onward.
    // J >= t needs overlap >= t*(sa+sb)/(1+t); a pair survives if ANY
    // of its prefix-match rows can still reach that (recall 1 — the
    // filter only discards rows whose bound proves failure). The 1e-9
    // slack keeps float rounding from pruning an exact-boundary pair:
    // admitting a doomed candidate costs one verify row, pruning a
    // true pair breaks the contract. On the replica-heavy derived-sf1
    // corpus it trims 435k -> 395k candidates (most candidates there
    // are TRUE near-dups, so little to prune); on a corpus whose
    // prefix collisions are mostly accidental it is the classic
    // PPJoin-over-AllPairs candidate reduction.
    val ubound = least(col("i"), col("j")) + lit(1) +
      least(col("sa") - col("i") - 1, col("sb") - col("j") - 1)
    val cand = pref.select(col("tok"), col("id").as("id_a"), col("s").as("sa"), col("pos").as("i"))
      .join(pref.select(col("tok"), col("id").as("id_b"), col("s").as("sb"), col("pos").as("j")), "tok")
      .filter(col("id_a") < col("id_b") &&
        col("sb") * minJaccard <= col("sa") && col("sa") * minJaccard <= col("sb") &&
        ubound.cast("double") * (1.0 + minJaccard) >=
          (col("sa") + col("sb")).cast("double") * minJaccard - 1e-9)
      .select("id_a", "id_b").distinct()
      .localCheckpoint()
    // exact verify on candidates only, from the ALREADY-BUILT per-doc
    // token arrays: two id-keyed joins hand each pair both (distinct)
    // token-set arrays and inter = |array_intersect| evaluates inside
    // codegen — no second shingle build and, unlike the exploded
    // pair⋈shingle⋈shingle join, no pairs×|tokens| row fan-out shuffle
    // (which was ~half the operator's sf1 wall time). Per-pair cost is
    // linear in the two array sizes; shuffle volume is one token array
    // per (pair, side) — the same bytes the exploded form moved, in
    // candidate-count rows.
    val arrs = sorted.select(col("id"),
      expr("transform(ts, x -> x.tok)").as("tk"), col("s"))
    cand
      .join(arrs.select(col("id").as("id_a"), col("tk").as("ta"), col("s").as("na")), "id_a")
      .join(arrs.select(col("id").as("id_b"), col("tk").as("tb"), col("s").as("nb")), "id_b")
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      // unrounded acceptance, matching the prefix/length pruning's exact
      // threshold (and jaccardPairs, the recall-1 oracle) — see the note
      // there: round-then-filter would break recall 1 on J ∈ [t-5e-5, t)
      .withColumn("j", col("inter").cast("double") / (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("j") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("j"), 4).as("jaccard"))
  }

  /**
   * Train/test LEAKAGE audit: near-duplicate pairs that straddle a
   * split boundary. Deduplicating before splitting is the rule; this
   * operator is the check that it actually happened — an eval set
   * whose members have near-twins in train overstates every metric,
   * and the failure is invisible to per-split statistics. Pairs come
   * from the LSH near-dup detector at `minJaccard`; split membership
   * joins on from `splitCol` of `splits` (any per-id assignment — the
   * hash-bucket [[SampleOps.splitAssign]] output, or a custom one).
   * Output: one row per CROSS-split near-dup pair
   * (id_a, id_b, jaccard, split_a, split_b) — empty means clean.
   *
   * Scale: the pair side is the LSH-bounded candidate set; the split
   * side is two id-keyed joins of (id, split) rows — nothing new
   * shuffles beyond what [[nearDuplicates]] already priced.
   */
  def splitLeakage(docs: DataFrame, idCol: String, textCol: String,
                   splits: DataFrame, splitIdCol: String, splitCol: String,
                   minJaccard: Double, k: Int = 16, bands: Int = 4,
                   w: Int = 3): DataFrame = {
    val pairs = nearDuplicates(docs, idCol, textCol, minJaccard, k, bands, w)
    val s = splits.select(col(splitIdCol).as("id"), col(splitCol).as("split"))
    pairs
      .join(s.select(col("id").as("id_a"), col("split").as("split_a")), "id_a")
      .join(s.select(col("id").as("id_b"), col("split").as("split_b")), "id_b")
      .filter(col("split_a") =!= col("split_b"))
      .select("id_a", "id_b", "jaccard", "split_a", "split_b")
  }

  /**
   * Dedup savings report: per EXACT-duplicate group (normalized
   * fingerprint), how many copies exist and how many bytes
   * deduplication reclaims — the capacity-planning number an ops
   * review asks for before running the dedup itself. Keeping one
   * canonical copy (the min id, [[exactDuplicates]]' convention)
   * saves sum(chars) − chars(kept). One fingerprint groupBy with
   * integer aggregates; groups of one never reach the output. Sizes
   * are CHARACTER counts (honest for any encoding; multiply by an
   * average byte width for capacity math).
   * Output: (fp, n_copies, kept_id, total_chars, saved_chars).
   */
  def dedupSavings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("id"), TextOps.fingerprint(col(textCol)).as("fp"),
        length(col(textCol)).cast("long").as("chars"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_copies"),
        min(col("id")).as("kept_id"),
        sum(col("chars")).as("total_chars"),
        (sum(col("chars")) - min_by(col("chars"), col("id"))).as("saved_chars"))
      .filter(col("n_copies") >= 2)

  /**
   * Verbatim-substring decontamination: corpus documents that contain
   * a benchmark string as an exact substring — the strictest
   * contamination predicate (n-gram collision admits reformatted
   * hits; this one catches only literal inclusion, e.g. a benchmark
   * answer pasted into a crawl page). The reference side is tiny by
   * contract (benchmarks don't grow with training data), so it
   * BROADCASTS and the corpus is one scan with a per-row `contains`
   * — no shuffle of corpus text, no index. Refs shorter than
   * `minRefLen` characters are dropped first: single words would
   * match everything and mean nothing.
   * Output: (corpus_id, ref_id) pairs.
   */
  def substringContamination(corpus: DataFrame, corpusIdCol: String, corpusTextCol: String,
                             ref: DataFrame, refIdCol: String, refTextCol: String,
                             minRefLen: Int = 20): DataFrame = {
    val refs = ref.select(col(refIdCol).as("ref_id"), col(refTextCol).as("rt"))
      .filter(length(col("rt")) >= minRefLen)
    corpus.select(col(corpusIdCol).as("corpus_id"), col(corpusTextCol).as("ct"))
      .join(broadcast(refs), expr("contains(ct, rt)"))
      .select("corpus_id", "ref_id")
  }

  /**
   * Edit-distance near-duplicates: MinHash/LSH blocking on CHARACTER
   * n-grams, then a character-level Levenshtein verify over candidate
   * pairs only. Jaccard on word shingles is blind to dense small edits
   * (typo storms, OCR noise: every word shingle changes, the set
   * overlap collapses even though the strings are one keystroke apart
   * per word) — so the BLOCKING key here must not be word shingles
   * either, or exactly those pairs would share no band and never reach
   * the verify. Character `gram`-grams degrade per EDIT, not per word:
   * one edit perturbs only ~gram of the ~len grams, so a pair within d
   * edits keeps gram-Jaccard ≈ (len − gram·d)/(len + gram·d) no matter
   * how the edits are spread across words.
   *
   * Recall envelope (be honest — LSH recall is probabilistic, not 1):
   * with k=16 minhashes in `bands` bands of k/bands rows, a pair
   * collides in some band with probability 1 − (1 − J^(k/b))^b; the
   * default b=8 (2-row bands) puts the ~50% threshold at J ≈ 0.35,
   * i.e. edit density up to roughly one edit per 2·gram characters
   * (~6% of characters at the default gram=8) is blocked reliably,
   * and recall decays smoothly past that. A pair with an edit in
   * EVERY gram-length window has J ≈ 0.1 and WILL often be missed —
   * at that density the strings share almost no substring of length
   * `gram` and no subquadratic blocking key exists; lower `gram`
   * trades candidate volume for recall if that regime matters, and
   * the price is steep: gram=5 admits ~8x the candidates of gram=8 on
   * prose (measured 1.52M vs 188k at sf0.1), because 5-char grams of
   * natural language (" the ", "tion ") are corpus-common.
   *
   * Verify cost control: candidate pairs whose LENGTHS differ by more
   * than maxDist cannot be within maxDist — they are dropped on an
   * (id, length) join BEFORE any text is shuffled to a pair (2.6x
   * fewer text-carrying pairs at sf0.1), and the survivors use the
   * banded O(len·maxDist) `levenshtein(l, r, threshold)`.
   *
   * Candidate-volume control: `maxBucket` (default 64) drops band
   * buckets larger than the cap — stop-bucket removal. On a corpus
   * dense in cross-document char-gram overlap, 2-row bands otherwise
   * go quadratic (measured on the derived 10x corpus: 41.7M candidate
   * pairs uncapped vs 1.6M at cap 64), while the final RESULT is
   * unchanged on normal corpora (sf0.01: identical 31 rows capped or
   * not) because true near-dup pairs also collide in small buckets.
   * Recall loss is confined to pairs whose EVERY shared band is
   * corpus-hot — pairs that look like boilerplate, not edits.
   *
   * The verify uses [[boundedLevenshtein]] — a Ukkonen-banded
   * O(len·maxDist) kernel with common prefix/suffix stripping and a
   * row-minimum early exit, value-identical to Spark's
   * `levenshtein(l, r, threshold)` (DedupSpec pins the equivalence on
   * the real sf0.01 candidate set plus unicode/boundary fixtures) but
   * 2.3x faster measured on the sf0.1 candidate pairs (10.97 s →
   * 4.77 s raw kernel time): the builtin's threshold form scans the
   * full row between its boundary cutoffs, where the band + stripping
   * touch only cells a ≤ maxDist path can reach — near-dup pairs
   * (long shared prefix/suffix) collapse to the edited region, and
   * far pairs bail as soon as every band cell exceeds the cap.
   * Similarity is 1 − dist/max(len), on the pair's longer side.
   *
   * The blocking knobs live in [[EditBlocking]] rather than flat
   * defaulted parameters: round 7 changed the blocking from word
   * shingles (bands=4, w=3) to char grams (bands=8, gram=8,
   * maxBucket=64), and a flat parameter list would let a legacy
   * positional caller compile silently onto the NEW semantics with
   * the OLD argument values. The case class makes any pre-change
   * positional call a compile error, forcing call-site review.
   *
   * Scale: candidate pairs are LSH-bounded (never n²); text travels
   * only to pairs that survived blocking, via the same semi-join-down
   * shape as [[nearDuplicates]]. Pairs whose distance exceeds
   * `maxDist` cost O(len·maxDist) and emit nothing.
   */
  /**
   * Bounded Levenshtein distance, value-identical to Spark's
   * `levenshtein(l, r, threshold)`: the exact distance when it is
   * ≤ `k`, −1 otherwise (null input also → −1; the caller filters
   * dist ≥ 0, so the drop matches the builtin's null result).
   *
   * Kernel: codepoint arrays (so surrogate pairs count as ONE edit,
   * matching the builtin's UTF8String semantics), common prefix/suffix
   * stripped first (a pure near-dup pair collapses to its edited
   * region), |len diff| > k rejected outright, then a two-row DP over
   * the Ukkonen diagonal band |i−j| ≤ k with a row-minimum early exit
   * — cells outside the band cannot lie on a ≤k-cost path, and once
   * every band cell of a row exceeds k no later row can come back
   * under it.
   */
  private[graft] def boundedLevenshtein(a: String, b: String, k: Int): Int = {
    if (a == null || b == null) return -1
    val x0 = a.codePoints.toArray
    val y0 = b.codePoints.toArray
    var lo = 0
    val maxLo = math.min(x0.length, y0.length)
    while (lo < maxLo && x0(lo) == y0(lo)) lo += 1
    var hxi = x0.length - 1; var hyi = y0.length - 1
    while (hxi >= lo && hyi >= lo && x0(hxi) == y0(hyi)) { hxi -= 1; hyi -= 1 }
    val n0 = hxi - lo + 1
    val m0 = hyi - lo + 1
    // DP over the shorter remainder as rows
    val (x, y, nn, mm) = if (n0 <= m0) (x0, y0, n0, m0) else (y0, x0, m0, n0)
    if (mm - nn > k) return -1
    if (nn == 0) return mm // ≤ k by the check above
    val prev = new Array[Int](mm + 1)
    val cur = new Array[Int](mm + 1)
    var j = 0
    while (j <= math.min(mm, k)) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= nn) {
      val jLo = math.max(1, i - k)
      val jHi = math.min(mm, i + k)
      // left band edge: the column-0 value when in range, else a +inf
      // sentinel (a path entering the band from the left would exceed k)
      cur(jLo - 1) = if (jLo == 1) i else Int.MaxValue / 2
      var rowMin = if (jLo == 1) i else Int.MaxValue / 2
      val xi = x(lo + i - 1)
      j = jLo
      while (j <= jHi) {
        val d =
          if (xi == y(lo + j - 1)) prev(j - 1)
          else if (j == i + k)
            // prev(i+k) sits outside the previous row's band — stale;
            // only substitution/insertion feed this cell
            math.min(prev(j - 1), cur(j - 1)) + 1
          else math.min(math.min(prev(j - 1), prev(j)), cur(j - 1)) + 1
        cur(j) = d
        if (d < rowMin) rowMin = d
        j += 1
      }
      if (rowMin > k) return -1
      System.arraycopy(cur, jLo - 1, prev, jLo - 1, jHi - jLo + 2)
      i += 1
    }
    val d = prev(mm)
    if (d > k) -1 else d
  }

  /** [[boundedLevenshtein]] as a UDF for the verify stage. */
  private[graft] def boundedLevenshteinUdf(k: Int) =
    udf { (a: String, b: String) => boundedLevenshtein(a, b, k) }

  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        maxDist: Int,
                        blocking: EditBlocking = EditBlocking()): DataFrame = {
    val cand0 = minhashCandidates(docs, idCol, textCol, blocking.k,
      blocking.bands, blocking.gram, charGrams = true,
      maxBucket = blocking.maxBucket).localCheckpoint()
    // length prefilter on (id, int) rows — no text shuffles to a pair
    // that length alone already puts past maxDist
    val lens = docs.select(col(idCol).as("id"), length(col(textCol)).as("len"))
    val cand = cand0
      .join(lens.select(col("id").as("id_a"), col("len").as("la")), "id_a")
      .join(lens.select(col("id").as("id_b"), col("len").as("lb")), "id_b")
      .filter(abs(col("la") - col("lb")) <= maxDist)
      .select("id_a", "id_b")
    val candIds = cand.select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val texts = docs.select(col(idCol).as("id"), col(textCol).as("text"))
      .join(candIds, "id")
    val joined = cand
      .join(texts.select(col("id").as("id_a"), col("text").as("ta")), "id_a")
      .join(texts.select(col("id").as("id_b"), col("text").as("tb")), "id_b")
      .withColumn("dist", boundedLevenshteinUdf(maxDist)(col("ta"), col("tb")))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
    joined
      .withColumn("maxlen",
        greatest(length(col("ta")), length(col("tb")), lit(1)).cast("long"))
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"),
        round(lit(1.0) - col("dist").cast("double") / col("maxlen").cast("double"), 4)
          .as("sim"))
  }

  /**
   * FUZZY cross-corpus decontamination: MinHash/LSH band match between
   * the training corpus and a benchmark set, then exact-Jaccard verify
   * of the candidates — the complement to the exact methods here
   * (thresholded-Jaccard decontamination and [[ngramCollisions]]'s
   * any-shared-13-gram): it catches lightly-paraphrased or reformatted
   * benchmark text that exact n-gram collision misses, at an
   * LSH-bounded cost.
   *
   * Plan: both sides band through the one-pass signature kernel; the
   * candidate join keys on (band, bandval) where the BENCHMARK side is
   * tiny by construction (benchmarks don't grow with training data) —
   * AQE broadcasts it, so the corpus never shuffles for blocking. The
   * verify explodes shingles only for docs that appear in a candidate
   * pair (semi-joined down exactly like [[nearDuplicates]]) and joins
   * them on the (ref_id, shingle-hash) pair key — an equi join, never
   * a per-pair shingle cross product.
   * Output: (corpus_id, ref_id, jaccard >= minJaccard).
   */
  def crossContamination(corpus: DataFrame, corpusIdCol: String, corpusTextCol: String,
                         ref: DataFrame, refIdCol: String, refTextCol: String,
                         minJaccard: Double, k: Int = 16, bands: Int = 4,
                         w: Int = 3): DataFrame = {
    val bc = minhashBanded(corpus, corpusIdCol, corpusTextCol, k, bands, w)
    val br = minhashBanded(ref, refIdCol, refTextCol, k, bands, w)
      .withColumnRenamed("id", "ref_id")
    val cand = bc.join(br, Seq("band", "bandval"))
      .select(col("id").as("corpus_id"), col("ref_id"))
      .distinct().localCheckpoint()
    val cDocs = corpus
      .select(col(corpusIdCol).as("corpus_id"), col(corpusTextCol).as("text"))
      .join(cand.select("corpus_id").distinct(), "corpus_id")
    val rDocs = ref
      .select(col(refIdCol).as("ref_id"), col(refTextCol).as("text"))
      .join(cand.select("ref_id").distinct(), "ref_id")
    val shC = cDocs.select(col("corpus_id"), explode(ShingleHashes(col("text"), w)).as("sh"))
    val shR = rDocs.select(col("ref_id"), explode(ShingleHashes(col("text"), w)).as("sh"))
    val sizeC = cDocs.select(col("corpus_id"),
      size(ShingleHashes(col("text"), w)).cast("long").as("na"))
    val sizeR = rDocs.select(col("ref_id"),
      size(ShingleHashes(col("text"), w)).cast("long").as("nb"))
    cand
      .join(shC, "corpus_id")
      .join(shR, Seq("ref_id", "sh"))
      .groupBy("corpus_id", "ref_id")
      .agg(count(lit(1)).as("inter"))
      .join(sizeC, "corpus_id")
      .join(sizeR, "ref_id")
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= minJaccard)
      .select(col("corpus_id"), col("ref_id"), col("jaccard"))
  }

  /**
   * Content-defined-chunking duplication audit — the LBFS/FastCDC
   * idea (Muthitacharoen et al. SOSP 2001; Xia et al. ATC 2016)
   * re-expressed deterministically: chunk boundaries fall AFTER any
   * position whose trailing `window`-gram hashes to 0 mod `maskMod`
   * (expected chunk length ≈ maskMod characters, content-aligned, so
   * an insertion early in a page shifts NO downstream chunk — the
   * property fixed-stride blocking lacks and the reason storage
   * dedup ships CDC). Chunks fingerprint by md5; a chunk instance is
   * duplicated when its fingerprint appears ≥ 2 times corpus-wide.
   * Per-doc output: (doc_id, n_chunks, n_dup_chunks, dup_chars) —
   * the "how much of this doc is boilerplate shared elsewhere"
   * number, finer than whole-doc dedup and cheaper than winnowing's
   * all-pairs scoring (no pair join at all).
   *
   * Determinism: normalization, the gram hash (md5Head60 — the
   * winnow convention: DuckDB recomputes it per position), boundary
   * rule, and chunk fingerprints all replay engine-exact; no rolling
   * state, so partitioning can't reorder anything.
   *
   * Scale shape: chunking is a per-row projection (codegen'd
   * transform/filter over positions — the md5-per-gram cost rides
   * the scan, no shuffle); the corpus-wide frequency table is ONE
   * map-side-combined groupBy on the 8-byte fp, joined back fp-keyed.
   * Nothing quadratic, no driver state; hot boilerplate fps skew the
   * count join at most (AQE skew-split handles it).
   */
  def cdcChunkStats(docs: DataFrame, idCol: String, textCol: String,
                    window: Int = 8, maskMod: Int = 64): DataFrame = {
    require(window >= 2 && maskMod >= 2, s"cdc window=$window maskMod=$maskMod")
    // chunking is the fused one-pass kernel ([[Shingles.cdcChunks]]):
    // the column formulation re-evaluated the normalization subtree
    // per POSITION once CollapseProject inlined it into the per-
    // element lambda — 582 s at sf0.1 vs seconds fused (the winnow
    // lesson; equivalence pinned against [[cdcChunksReference]])
    val t = trim(regexp_replace(lower(col(textCol)), "\\s+", " "))
    val inst = docs
      .select(col(idCol).as("doc_id"),
        explode(CdcChunks(t, window, maskMod)).as("c"))
      .select(col("doc_id"), col("c.fp").as("fp"), col("c.len").as("clen"))
    val freq = inst.groupBy("fp").agg(count(lit(1)).as("n_fp"))
    val perDoc = inst.join(freq, "fp")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_fp") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("n_fp") >= 2, col("clen")).otherwise(0L)).as("dup_chars"))
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"))
  }

  /**
   * CDC-chunk CONTAINMENT pairs — the chunk-level near-dup candidate
   * generator on top of [[cdcChunkStats]]' chunking: doc pairs sharing
   * ≥ `minShared` content-defined chunks, with the shared character
   * mass. Complements winnow: winnow's gram windows score LOCAL
   * overlap density, CDC chunks align on CONTENT boundaries, so a
   * page that embeds another page's paragraphs verbatim (quotation,
   * template reuse, syndication) pairs up even when the surrounding
   * text differs completely.
   *
   * Scale shape: per-doc DISTINCT chunk fps (a doc repeating its own
   * boilerplate counts once per pair, the winnow convention); hot
   * chunks with document frequency outside [2, maxDf] leave the
   * universe BEFORE the pair join (the MOSS/winnow stop rule — a
   * chunk in 10⁵ docs is boilerplate, not evidence, and would open
   * df² pairs); the join is fp-keyed equality with 8-byte ids + the
   * chunk length, then one pair-keyed aggregate. No all-pairs
   * anywhere; candidate volume is Σ df² over kept fps, bounded by
   * maxDf · Σ df.
   *
   * Output: (id_a, id_b, shared_chunks, shared_chars) for pairs at
   * minShared or above.
   */
  def cdcContainmentPairs(docs: DataFrame, idCol: String, textCol: String,
                          window: Int = 8, maskMod: Int = 64,
                          minShared: Int = 2, maxDf: Long = 100L): DataFrame = {
    require(minShared >= 1 && maxDf >= 2, s"cdc pairs minShared=$minShared maxDf=$maxDf")
    val t = trim(regexp_replace(lower(col(textCol)), "\\s+", " "))
    val inst = docs
      .select(col(idCol).as("doc_id"),
        explode(CdcChunks(t, window, maskMod)).as("c"))
      .select(col("doc_id"), col("c.fp").as("fp"), col("c.len").as("clen"))
      .distinct()
    val keep = inst.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2L && col("df") <= maxDf)
      .select("fp")
    val a = inst.join(keep, "fp")
      .select(col("fp"), col("doc_id").as("id_a"), col("clen"))
    val b = inst.join(keep, "fp")
      .select(col("fp"), col("doc_id").as("id_b"))
    a.join(b, Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("shared_chunks"), sum(col("clen")).as("shared_chars"))
      .filter(col("shared_chunks") >= minShared.toLong)
  }

  /** The pre-kernel column formulation of [[cdcChunkStats]]' chunker
    * (equivalence-test reference; takes PRE-NORMALIZED text and
    * returns the chunk strings): boundary positions by per-position
    * trailing-gram hash, spans between consecutive bounds, empty
    * final span filtered. Kept so the fused kernel's contract stays
    * independently checkable — do NOT use on the hot path (the
    * per-element lambda re-evaluates its inputs per position). */
  private[graft] def cdcChunksReference(text: Column, window: Int, maskMod: Int): Column = {
    // guard the position range: Spark's sequence(a, b) DESCENDS when
    // b < a, so short texts would fabricate positions
    val bounds = concat(
      array(lit(0)),
      when(length(text) >= window,
        filter(
          transform(sequence(lit(window), length(text)),
            i => when(FastHash.md5Head60(substr(text, i - lit(window - 1), lit(window)))
                % maskMod === 0, i)),
          x => x.isNotNull))
        .otherwise(array().cast("array<int>")),
      array(length(text)))
    filter(
      transform(sequence(lit(1), size(bounds) - 1),
        j => substr(text, element_at(bounds, j) + 1,
          element_at(bounds, j + 1) - element_at(bounds, j))),
      c => length(c) > 0)
  }
}
