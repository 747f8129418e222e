package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Operator-level specs that need a SparkSession: index expansion edge
  * cases, LSH recall vs brute force, jaccard stop-shingle capping. */
class OperatorSpec extends AnyFunSuite with SharedSpark {

  private val sfDir = "/root/testdata/sf0.01"

  test("indexExpand emits no phantom prefix rows for single-segment paths") {
    val ss = spark; import ss.implicits._
    // reference (uploader/index.go `for l--; l > 0`): a level-1 name yields
    // no ancestor-prefix rows at all — only the 4 direct rows.
    val pts = Seq(("solo", java.sql.Date.valueOf("2021-07-05")))
      .toDF("path", "date")
    val rows = GraphiteOps.indexExpand(pts)
      .select(col("date").cast("string"), col("level"), col("path"))
      .orderBy("level")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(rows.toSeq == Seq(
      ("2021-07-05", 1L, "solo"),
      ("2021-07-05", 10001L, "solo"),
      ("1970-02-12", 20001L, "solo"),
      ("1970-02-12", 30001L, "solo")))
  }

  test("indexExpand multi-segment still walks every prefix") {
    val ss = spark; import ss.implicits._
    val pts = Seq(("a.b.c", java.sql.Date.valueOf("2021-07-05"))).toDF("path", "date")
    val tree = GraphiteOps.indexExpand(pts)
      .filter(col("level").between(20000, 29999))
      .select("level", "path").orderBy("level")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(tree.toSeq == Seq((20001L, "a."), (20002L, "a.b."), (20003L, "a.b.c")))
  }

  test("lshTopK recall@5 vs bruteForceTopK on sf0.01 embeddings") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val q = e.filter(col("id") < 20)
    val brute = SimilarityOps.bruteForceTopK(q, e, k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimilarityOps.lshTopK(q, e, k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.6, s"LSH recall@5 $recall < 0.6 (|brute|=${brute.size}, hit=${(brute & lsh).size})")
  }

  test("ivfTopK recall@5 vs bruteForceTopK on sf0.01 embeddings") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val q = e.filter(col("id") < 20)
    val brute = SimilarityOps.bruteForceTopK(q, e, k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SimilarityOps.ivfTopK(q, e, k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.6, s"IVF recall@5 $recall < 0.6 (|brute|=${brute.size}, hit=${(brute & ivf).size})")
  }

  test("fused shingle-hash kernel is value-identical to the column formulation") {
    val ss = spark; import ss.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
      .union(Seq(
        (900001L, ""),                          // empty text -> hash of ""
        (900002L, "one"),                       // < w words -> single shingle
        (900003L, "one two"),
        (900004L, "  tabs\tand\nnewlines \r\n spaced  "), // \s variety
        (900005L, "a b a b a b a b")            // repeated shingles -> distinct
      ).toDF("id", "text"))
    val fused = docs.select(col("id"), explode(ShingleHashes(col("text"), 3)).as("sh"))
    val columnar = docs
      .select(col("id"), explode(DedupOps.shingles(col("text"), 3)).as("shs"))
      .select(col("id"), xxhash64(col("shs")).as("sh"))
    assert(fused.count() == columnar.count())
    assert(fused.exceptAll(columnar).isEmpty && columnar.exceptAll(fused).isEmpty,
      "fused kernel must produce exactly the xxhash64-of-shingle-string multiset")
  }

  test("fused n-gram-hash kernel is value-identical to the column formulation") {
    val ss = spark; import ss.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
      .union(Seq(
        (900001L, ""),                          // no words -> NO grams
        (900002L, "one two"),                   // < n words -> NO grams (not one)
        (900003L, "a b a b a b"),               // duplicates KEPT
        (900004L, "  tabs\tand\nnewlines \r\n spaced  ")
      ).toDF("id", "text"))
    for (n <- Seq(1, 3)) {
      val ws = filter(split(lower(col("text")), "\\s+"), w => length(w) > 0)
      val columnar = docs.select(col("id"), explode(
          when(size(ws) >= n,
            transform(sequence(lit(1), size(ws) - (n - 1)),
              i => xxhash64(concat_ws(" ", slice(ws, i, lit(n))))))
            .otherwise(array().cast("array<bigint>"))).as("h"))
      val fused = docs.select(col("id"), explode(NgramHashes(lower(col("text")), n)).as("h"))
      assert(fused.count() == columnar.count(), s"n=$n count")
      assert(fused.exceptAll(columnar).isEmpty && columnar.exceptAll(fused).isEmpty,
        s"n=$n: kernel must produce exactly the xxhash64-of-gram multiset, duplicates kept")
      // the md5Head60 sibling: same walk, oracle-portable hash
      val columnarMd5 = docs.select(col("id"), explode(
          when(size(ws) >= n,
            transform(sequence(lit(1), size(ws) - (n - 1)),
              i => FastHash.md5Head60(concat_ws(" ", slice(ws, i, lit(n))))))
            .otherwise(array().cast("array<bigint>"))).as("h"))
      val fusedMd5 = docs.select(col("id"), explode(NgramMd5Heads(lower(col("text")), n)).as("h"))
      assert(fusedMd5.exceptAll(columnarMd5).isEmpty && columnarMd5.exceptAll(fusedMd5).isEmpty,
        s"n=$n: md5 kernel must equal md5Head60 over the gram strings")
    }
  }

  test("fused winnow kernel is value-identical to the column formulation") {
    val ss = spark; import ss.implicits._
    val k = 12; val w = 8
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
      .union(Seq(
        (900001L, ""),                                 // < k chars -> no fps
        (900002L, "exactly12chs"),                     // k chars, 1 gram < window -> no fps
        (900003L, "exactly nineteen ch"),              // k+w-1 chars -> exactly one window
        (900004L, "многоязычный текст с юникодом и ещё немного"), // multi-byte chars
        (900005L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"), // all-equal grams -> 1 distinct fp
        (900006L, "  spaced\t\tout\n\nwhitespace   runs collapse here  ")
      ).toDF("id", "text"))
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    // the column formulation the kernel replaced (shipped through r11)
    val grams = transform(
      sequence(lit(0), length(norm) - k),
      i => conv(substring(md5(substring(norm, i + 1, lit(k))), lit(1), lit(15)), 16, 10).cast("long"))
    val fps = array_distinct(transform(
      sequence(lit(0), size(col("grams")) - w),
      j => array_min(slice(col("grams"), j + 1, lit(w)))))
    val columnar = docs.filter(length(norm) >= k)
      .select(col("id"), grams.as("grams"))
      .filter(size(col("grams")) >= w)
      .select(col("id"), explode(fps).as("fp"))
    val fused = TextOps.winnowFingerprints(docs, "id", "text", k, w)
    assert(fused.count() == columnar.count())
    assert(fused.exceptAll(columnar).isEmpty && columnar.exceptAll(fused).isEmpty,
      "fused winnow kernel must produce exactly the md5-head window-min distinct set")
  }

  test("fused CDC chunk kernel is value-identical to the column formulation") {
    val ss = spark; import ss.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
      .union(Seq(
        (910001L, ""),                                  // empty -> no chunks
        (910002L, "short"),                             // < window -> one whole-text chunk
        (910003L, "многоязычный текст с юникодом и ещё немного про chunking"),
        (910004L, "  spaced\t\tout\n\nwhitespace   runs collapse here  "),
        (910005L, ("w" * 7 + " ") * 40)                 // periodic text -> repeated chunks
      ).toDF("id", "text"))
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    val fused = docs.select(col("id"), explode(CdcChunks(norm, 8, 64)).as("c"))
      .select(col("id"), col("c.fp").as("fp"), col("c.len").as("len"))
    val columnar = docs
      .select(col("id"), explode(DedupOps.cdcChunksReference(norm, 8, 64)).as("chunk"))
      .select(col("id"), FastHash.md5Head60(col("chunk")).as("fp"),
        length(col("chunk")).cast("long").as("len"))
    assert(fused.count() == columnar.count())
    assert(fused.exceptAll(columnar).isEmpty && columnar.exceptAll(fused).isEmpty,
      "fused CDC kernel must produce exactly the reference chunk (fp, len) multiset")
  }

  test("minhash projection kernel matches the aggregation formulation") {
    val ss = spark; import ss.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
      .union(Seq(
        (900001L, ""),                 // empty text still gets a signature
        (900002L, "one two"),          // < w words
        (900003L, "rep rep rep rep")   // duplicate shingles don't move minima
      ).toDF("id", "text"))
    // the aggregation formulation the kernel replaced (shipped through r3)
    val mhCols = (0 until 16).map(s =>
      min(md5(concat(lit(s.toString), lit(":"), col("sh")))).as(s"mh$s"))
    val aggSig = docs
      .select(col("id"), explode(DedupOps.shingles(col("text"), 3)).as("sh"))
      .groupBy(col("id")).agg(mhCols.head, mhCols.tail: _*)
      .select(col("id"), array((0 until 16).map(s => col(s"mh$s")): _*).as("mh"))
    val kernelSig = docs.select(col("id"), MinhashSig(col("text"), 16, 3).as("mh"))
    assert(kernelSig.count() == docs.count())
    assert(aggSig.exceptAll(kernelSig).isEmpty && kernelSig.exceptAll(aggSig).isEmpty,
      "projection kernel must reproduce every per-seed md5 minimum exactly")
  }

  test("minhashCandidates drops null-text docs instead of bucketing them together") {
    val ss = spark; import ss.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, null.asInstanceOf[String]),
      (4L, null.asInstanceOf[String]),
      (5L, null.asInstanceOf[String])
    ).toDF("id", "text")
    val cand = DedupOps.minhashCandidates(docs, "id", "text").collect()
    // identical real docs collide; the null-text docs must NOT form a
    // shared bucket (their null signatures would all band to one empty
    // bandval and pair quadratically)
    assert(cand.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("simhash projection kernel matches the word-explode formulation") {
    val ss = spark; import ss.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
      .union(Seq(
        (900001L, "   \t \n "),            // wordless -> NO signature row
        (900002L, "solo"),
        (900003L, "rep rep rep rep")       // multiplicity votes
      ).toDF("id", "text"))
    // the explode + sum-per-bit formulation the kernel replaced
    val wordRows = docs
      .select(col("id"), explode(TextOps.words(col("text"))).as("w"))
      .select(col("id"), conv(substring(md5(col("w")), 1, 15), 16, 10).cast("long").as("h"))
    val bitSums = (0 until 60).map(b =>
      sum(shiftright(col("h"), b).bitwiseAND(1L) * 2 - 1).as(s"s$b"))
    val aggSig = wordRows.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"),
        (0 until 60).map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
    val kernelSig = DedupOps.simhash(docs, "id", "text")
    assert(kernelSig.filter($"id" === 900001L).isEmpty,
      "wordless doc must have no signature, like the explode formulation")
    assert(aggSig.exceptAll(kernelSig).isEmpty && kernelSig.exceptAll(aggSig).isEmpty,
      "projection kernel must reproduce every 60-bit signature exactly")
    // string ids work now that the groupBy is gone
    val strIds = docs.select(concat(lit("doc-"), col("id")).as("id"), col("text"))
    assert(DedupOps.simhash(strIds, "id", "text").count() == kernelSig.count())
  }

  test("kernel equivalence holds on generated unicode/whitespace-heavy texts") {
    val ss = spark; import ss.implicits._
    // deterministic generator: words mixing ascii, unicode (multi-byte
    // UTF-8), digits and punctuation; separators mixing every Java \s
    // whitespace char, repeated
    val rnd = new scala.util.Random(20260812L)
    val vocab = Vector("alpha", "Ω", "иван", "全角", "x1", "-", "a.b", "%7E", "", "eé")
    val seps = Vector(" ", "  ", "\t", "\n", "\r\n", "  ", "\f", " \t ")
    val texts = (0 until 200).map { i =>
      val n = rnd.nextInt(12)
      (i.toLong, (0 until n).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(seps(rnd.nextInt(seps.size)), seps(rnd.nextInt(seps.size)), ""))
    }
    val docs = texts.toDF("id", "text")
    val fused = docs.select(col("id"), explode(ShingleHashes(col("text"), 3)).as("sh"))
    val columnar = docs
      .select(col("id"), explode(DedupOps.shingles(col("text"), 3)).as("shs"))
      .select(col("id"), xxhash64(col("shs")).as("sh"))
    assert(fused.exceptAll(columnar).isEmpty && columnar.exceptAll(fused).isEmpty)

    val mhCols = (0 until 16).map(s =>
      min(md5(concat(lit(s.toString), lit(":"), col("sh")))).as(s"mh$s"))
    val aggSig = docs
      .select(col("id"), explode(DedupOps.shingles(col("text"), 3)).as("sh"))
      .groupBy(col("id")).agg(mhCols.head, mhCols.tail: _*)
      .select(col("id"), array((0 until 16).map(s => col(s"mh$s")): _*).as("mh"))
    val kernelSig = docs.select(col("id"), MinhashSig(col("text"), 16, 3).as("mh"))
    assert(aggSig.exceptAll(kernelSig).isEmpty && kernelSig.exceptAll(aggSig).isEmpty)
  }

  test("contaminationPairs flags planted benchmark overlap, asymmetric sides") {
    val ss = spark; import ss.implicits._
    val ref = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated benchmark question about physics")).toDF("id", "text")
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // verbatim leak
      (11L, "prefix words then the quick brown fox jumps over the lazy dog tonight"), // partial
      (12L, "nothing in common with any reference document here")).toDF("id", "text")
    val got = DedupOps.contaminationPairs(corpus, "id", "text", ref, "id", "text",
      minJaccard = 0.5).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(p => (p._1, p._2)).toSet == Set((10L, 1L), (11L, 1L)),
      s"exactly the leaked docs pair with reference 1, got ${got.toSeq}")
    assert(got.find(_._1 == 10L).get._3 == 1.0, "verbatim leak has jaccard 1.0")
  }

  test("ngramCollisions: any shared 13-gram flags the doc, counts are distinct") {
    val ss = spark; import ss.implicits._
    val leak13 = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13"
    val ref = Seq(
      (1L, s"benchmark intro $leak13 benchmark outro words to pad the span"),
      (2L, s"second reference repeating $leak13 plus unrelated tail tokens"),
      (3L, "a reference with no overlap at all in any thirteen gram window of text here")
    ).toDF("id", "text")
    val corpus = Seq(
      (10L, s"training document containing $leak13 inside a longer body of text"),
      (11L, "twelve shared tokens only: w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 END"),
      (12L, "completely clean training document with none of the benchmark span present here")
    ).toDF("id", "text")
    val got = DedupOps.ngramCollisions(corpus, "id", "text", ref, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // only doc 10 shares a full 13-gram; it hits refs 1 and 2 on that one gram
    assert(got.toSeq == Seq((10L, 1L, 2L)), s"got ${got.toSeq}")
  }

  test("gopherRules fused kernel equals the regex reference row-for-row") {
    val ss = spark; import ss.implicits._
    val crafted = Seq(
      (910001L, "word ##tag ...more... ..... …okay\n- bullet\n * starred\n\t•dotted\nplain line...\nends…"),
      (910002L, ""), (910003L, "   \t  "),
      (910004L, "the be to of and that have with THE That"),
      (910005L, "ф фф 12.5 a.b ... …"),
      (910006L, Seq.fill(60)("mix3d-w0rd the be").mkString(" ")))
      .toDF("doc_id", "text")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).union(crafted)
    def named(fs: Seq[org.apache.spark.sql.Column]) =
      fs.zipWithIndex.map { case (c, i) => c.as(s"f$i") }
    val a = docs.select(col("doc_id") +: named(TextOps.gopherFlags(col("text"))): _*)
    val b = docs.select(col("doc_id") +: named(TextOps.gopherFlagsReference(col("text"))): _*)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "one-walk kernel flags must equal the regex formulation on every row")
    // the DELIBERATE divergence: \r is line CONTENT on the kernel path
    // (the oracle's \n-split semantic), not a (?m) anchor
    import org.apache.spark.unsafe.types.UTF8String
    val g = GopherStats.stats(UTF8String.fromString("- a\r- b...")).toLongArray()
    assert(g(3) == 1L, "one \\n-line despite the \\r")
    assert(g(4) == 1L, "one bullet: the \\r does not open a new line")
    assert(g(5) == 1L, "the single line ends in ...")
  }

  test("gopherRules: each rule trips on its crafted document") {
    val ss = spark; import ss.implicits._
    val good = ((1 to 60).map(i => s"word$i") ++
      Seq("the", "be", "of", "and", "have")).mkString(" ")
    val docs = Seq(
      (1L, good),                                   // passes everything
      (2L, "too few words to pass the count rule"), // r_words fails
      (3L, ((1 to 60).map(_ => "a") ++ Seq("the", "be")).mkString(" ")), // mean wl < 3
      (4L, ((1 to 60).map(i => s"w$i###")).mkString(" ") + " the be"),   // hash ratio
      (5L, ((1 to 60).map(i => s"- item$i the be")).mkString("\n")),     // all bullets
      (6L, ((1 to 60).map(i => s"line$i the be ...")).mkString("\n")),   // ellipsis lines
      (7L, ((1 to 60).map(_.toString) ++ Seq("the", "be")).mkString(" ")), // numeric words
      (8L, (1 to 60).map(i => s"word$i").mkString(" ")))                 // no stop words
      .toDF("doc_id", "text")
    val rows = TextOps.gopherRules(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    def f(id: Long, c: String): Long = rows(id).getAs[Long](c)
    assert(f(1, "pass") == 1L, s"doc 1 should pass: ${rows(1)}")
    assert(f(2, "r_words") == 0L)
    assert(f(3, "r_wordlen") == 0L && f(3, "r_words") == 1L)
    assert(f(4, "r_symbol") == 0L)
    assert(f(5, "r_bullet") == 0L)
    assert(f(6, "r_ellipsis") == 0L)
    assert(f(7, "r_alpha") == 0L)
    assert(f(8, "r_stop") == 0L && f(8, "pass") == 0L)
  }

  test("c4Rules: line retention, sentence floor, and page tells match hand counts") {
    val ss = spark; import ss.implicits._
    val goodLine = "This is a sentence with enough words."       // kept, 1 sentence
    val docs = Seq(
      (1L, Seq.fill(5)(goodLine).mkString("\n")),       // 5 kept lines, 5 sentences -> pass
      (2L, "No terminal punctuation here\n" + goodLine), // line 1 dropped (no terminal)
      (3L, "Ok.\n" + goodLine),                          // "Ok." dropped (< 3 words)
      (4L, s"Uses JavaScript everywhere here.\n$goodLine"), // js line dropped
      (5L, Seq.fill(4)(goodLine).mkString("\n")),        // only 4 sentences -> fail
      (6L, Seq.fill(5)(goodLine).mkString("\n") + "\nlorem ipsum dolor."), // lorem tell
      (7L, Seq.fill(5)(goodLine).mkString("\n") + "\nif (x) { return; }"), // brace tell
      (8L, "Is this multi? Yes! Three in one line, really.\n" +
        Seq.fill(2)(goodLine).mkString("\n")),           // 3+1+1 = 5 sentences -> pass
      (9L, ""))                                          // empty: 1 line, 0 kept
      .toDF("doc_id", "text")
    val r = TextOps.c4Rules(docs, "doc_id", "text").collect()
      .map(x => x.getLong(0) -> x).toMap
    def f(id: Long, c: String): Long = r(id).getAs[Long](c)
    assert(f(1, "kept_lines") == 5L && f(1, "n_sentences") == 5L && f(1, "pass") == 1L)
    assert(f(2, "n_lines") == 2L && f(2, "kept_lines") == 1L && f(2, "pass") == 0L)
    assert(f(3, "kept_lines") == 1L, "two-word terminal line must not count")
    assert(f(4, "kept_lines") == 1L, "javascript line must be dropped case-insensitively")
    assert(f(5, "kept_lines") == 4L && f(5, "n_sentences") == 4L && f(5, "pass") == 0L)
    assert(f(6, "has_lorem") == 1L && f(6, "pass") == 0L)
    assert(f(7, "has_brace") == 1L && f(7, "pass") == 0L)
    assert(f(8, "n_sentences") == 5L && f(8, "pass") == 1L)
    assert(f(9, "n_lines") == 1L && f(9, "kept_lines") == 0L && f(9, "pass") == 0L)
  }

  test("ccnetBuckets: per-language terciles ascend by NLL with ntile splits") {
    val ss = spark; import ss.implicits._
    // en: 6 docs -> terciles of 2; rare-token docs must land in tail.
    // fr: 2 docs -> ntile(3) gives buckets 1 and 2 (head, middle), no tail.
    val docs = Seq(
      (1L, "the the the the", "en"), (2L, "the the the cat", "en"),
      (3L, "the the cat cat", "en"), (4L, "the cat dog dog", "en"),
      (5L, "rare1 rare2 the the", "en"), (6L, "rare3 rare4 rare5 rare6", "en"),
      (7L, "bon bon bon bon", "fr"), (8L, "bon bon tres rare7", "fr"))
      .toDF("doc_id", "text", "lang")
    val r = TextOps.ccnetBuckets(docs, "doc_id", "text", "lang").collect()
      .map(x => (x.getLong(0), x.getString(4))).toMap
    assert(r(1L) == "head" && r(6L) == "tail", s"got $r")
    assert(r(7L) == "head" && r(8L) == "middle", "2-doc language: ntile fills head+middle")
    val buckets = Seq(1L, 2L, 3L, 4L, 5L, 6L).map(r)
    assert(buckets.count(_ == "head") == 2 && buckets.count(_ == "middle") == 2 &&
      buckets.count(_ == "tail") == 2, s"even terciles over 6 en docs: $buckets")
    // per-doc NLL must be non-decreasing across head -> middle -> tail
    val nll = TextOps.ccnetBuckets(docs, "doc_id", "text", "lang").collect()
      .filter(_.getString(1) == "en")
      .map(x => (x.getString(4), x.getDouble(3)))
    val order = Map("head" -> 0, "middle" -> 1, "tail" -> 2)
    assert(nll.sortBy(x => (order(x._1), x._2)).map(_._2).toSeq ==
      nll.map(_._2).sorted.toSeq, "bucket order must follow ascending NLL")
  }

  test("oovStats: instances outside top-V counted per doc, cutoff ties to token asc") {
    val ss = spark; import ss.implicits._
    // corpus frequencies: a=6, b=5, c=4, d=1 -> topV=2 keeps {a, b}
    val docs = Seq((1L, "a a a b b"), (2L, "a a a b b b c c"),
      (3L, "c c d"), (4L, "")).toDF("doc_id", "text")
    val r = TextOps.oovStats(docs, "doc_id", "text", topV = 2).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r(1L) == ((5L, 0L, 0L)))
    assert(r(2L) == ((8L, 2L, 250000L)))
    assert(r(3L) == ((3L, 3L, 1000000L)))
    assert(r(4L) == ((0L, 0L, 0L)), "wordless doc survives with zeros")
    // freq tie at the cutoff: a=2, b=2, topV=1 -> 'a' wins (token asc)
    val tie = Seq((1L, "a b"), (2L, "b a")).toDF("doc_id", "text")
    val rt = TextOps.oovStats(tie, "doc_id", "text", topV = 1).collect()
      .map(x => x.getLong(0) -> x.getLong(3)).toMap
    assert(rt(1L) == 500000L && rt(2L) == 500000L, "tie must resolve to 'a' on both docs")
  }

  test("c4 gate vs audit equality holds over 200 randomized line structures") {
    val ss = spark; import ss.implicits._
    // seeded generator: random line counts, word counts, terminal chars,
    // javascript/lorem/brace injections, tabs/trailing spaces/empties
    val rnd = new scala.util.Random(42)
    val terminals = Seq(".", "!", "?", "\"", "", ",", ";")
    val words = Seq("alpha", "two", "JavaScript", "javascripted", "lorem",
      "ipsum", "lorem ipsum", "x{y", "ok", "a")
    val docs = (1 to 200).map { id =>
      val lines = (0 to rnd.nextInt(6)).map { _ =>
        val ws = (0 to rnd.nextInt(5)).map(_ => words(rnd.nextInt(words.length)))
        val pad = if (rnd.nextBoolean()) "  " else ""
        ws.mkString(" ") + pad + terminals(rnd.nextInt(terminals.length))
      }
      (id.toLong, lines.mkString("\n"))
    }.toDF("doc_id", "text")
    val gate = docs.select(col("doc_id"), TextOps.c4Pass(col("text")).as("p"))
    val audit = TextOps.c4Rules(docs, "doc_id", "text")
      .select(col("id").as("doc_id"), (col("pass") === 1L).as("p"))
    assert(gate.exceptAll(audit).isEmpty && audit.exceptAll(gate).isEmpty,
      "HOF gate and explode audit must agree on every randomized doc")
  }

  test("gopherPass/c4Pass single-column gates equal the batch audits row-for-row") {
    val ss = spark; import ss.implicits._
    val goodLine = "alpha bravo charlie delta echo the be of and have one two."
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .union(Seq(
        (910001L, Seq.fill(5)(goodLine).mkString("\n")),
        (910002L, Seq.fill(5)(goodLine).mkString("\n").replace(".", "")),
        (910003L, "short. but{ with lorem ipsum tells."),
        (910004L, "")).toDF("doc_id", "text"))
    val colG = docs.select(col("doc_id"), TextOps.gopherPass(col("text")).as("p"))
    val batchG = TextOps.gopherRules(docs, "doc_id", "text")
      .select(col("doc_id"), (col("pass") === 1L).as("p"))
    assert(colG.exceptAll(batchG).isEmpty && batchG.exceptAll(colG).isEmpty,
      "gopherPass must equal gopherRules.pass on every row")
    val colC = docs.select(col("doc_id"), TextOps.c4Pass(col("text")).as("p"))
    val batchC = TextOps.c4Rules(docs, "doc_id", "text")
      .select(col("id").as("doc_id"), (col("pass") === 1L).as("p"))
    assert(colC.exceptAll(batchC).isEmpty && batchC.exceptAll(colC).isEmpty,
      "c4Pass must equal c4Rules.pass on every row")
  }

  test("selectionFunnel: gates compose per group, dedup is corpus-global") {
    val ss = spark; import ss.implicits._
    val line = "alpha bravo charlie delta echo the be of and have one two."
    val good = Seq.fill(5)(line).mkString("\n")             // gopher + c4 pass, 60 words
    val noTerm = good.replace(".", "")                      // gopher pass, c4 fail
    val short = Seq.fill(5)("This is a valid sentence here.").mkString("\n") // c4 pass, gopher fail
    val docs = Seq(
      (1L, good, "en", "web"), (2L, good, "en", "web"),     // 2 = exact dup of 1
      (3L, noTerm, "en", "web"), (4L, short, "en", "web"),
      (5L, good, "en", "books"))                            // cross-source dup of 1
      .toDF("doc_id", "text", "lang", "source")
    val r = TextOps.selectionFunnel(docs, "doc_id", "text", "lang", "source")
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        ((x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5), x.getLong(6), x.getLong(7)))).toMap
    // web: 4 docs; gopher passes 1,2,3; c4 passes 1,2,4; canonical 1,3,4; selected = doc 1
    assert(r(("en", "web")) == ((4L, 3L, 3L, 3L, 1L, 60L)), s"web row: ${r(("en", "web"))}")
    // books: its only doc passes both gates but doc 1 owns the fingerprint
    assert(r(("en", "books")) == ((1L, 1L, 1L, 0L, 0L, 0L)), s"books row: ${r(("en", "books"))}")
  }

  test("noveltyStats: unique docs at 1.0, clones at 0.0, partial overlap exact") {
    val ss = spark; import ss.implicits._
    val docs = Seq(
      (1L, "a1 a2 a3 a4 a5"),   // trigram a1a2a3 shared with doc 4
      (2L, "b1 b2 b3 b4 b5"),   // fully unique
      (3L, "c1 c2 c3 c4"),      // clone pair with doc 5: all shingles shared
      (5L, "c1 c2 c3 c4"),
      (4L, "a1 a2 a3 d4 d5"))   // 1 of 3 trigrams shared
      .toDF("doc_id", "text")
    val got = TextOps.noveltyStats(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(2L) == ((3L, 3L, 1.0)))
    assert(got(3L) == ((2L, 0L, 0.0)) && got(5L) == ((2L, 0L, 0.0)))
    assert(got(1L) == ((3L, 2L, 0.6667)) && got(4L) == ((3L, 2L, 0.6667)))
  }

  test("quantizeInt8: codes in [0,255], reconstruction within half a step, constant dim -> 0") {
    val ss = spark; import ss.implicits._
    val vecs = Seq(
      (1L, Array(0.0f, -1.0f, 7.5f)),
      (2L, Array(1.0f, -1.0f, 2.5f)),
      (3L, Array(0.25f, -1.0f, -4.0f))).toDF("vec_id", "embedding")
    val codes = SimilarityOps.quantizeInt8(vecs, "vec_id", "embedding")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(codes.values.forall(c => c >= 0 && c <= 255))
    // dim 1 is constant -> code 0 everywhere
    assert(Seq(1L, 2L, 3L).forall(id => codes((id, 1L)) == 0L))
    // extremes map to the rail codes
    assert(codes((1L, 0L)) == 0L && codes((2L, 0L)) == 255L)
    assert(codes((1L, 2L)) == 255L && codes((3L, 2L)) == 0L)
    // dequantize: |x - (mn + code*step)| <= step/2 for non-constant dims
    val ranges = Map(0L -> (0.0, 1.0), 2L -> (-4.0, 7.5))
    for (((id, pos), c) <- codes if pos != 1L) {
      val (mn, mx) = ranges(pos)
      val step = (mx - mn) / 255.0
      val x = vecs.collect().find(_.getLong(0) == id).get
        .getAs[scala.collection.Seq[Float]]("embedding")(pos.toInt).toDouble
      assert(math.abs(x - (mn + c * step)) <= step / 2 + 1e-9,
        s"vec $id dim $pos: x=$x code=$c")
    }
    // deterministic across runs
    assert(SimilarityOps.quantizeInt8(vecs, "vec_id", "embedding")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap == codes)
  }

  test("connectedComponents: chains, singletons, min-label canonical") {
    val ss = spark; import ss.implicits._
    val nodes = (1L to 8L).toDF("id")
    // component {1,2,3,4} as a chain, {6,7} as a pair, {5},{8} singletons
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 7L)).toDF("id_a", "id_b")
    val got = DedupOps.connectedComponents(nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 6L, 7L -> 6L, 8L -> 8L))
  }

  test("sampling family: deterministic, exact strata, bounded budgets, true permutation") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    // bernoulli: deterministic, append-stable, rate in the right ballpark
    val s1 = SampleOps.bernoulliSample(docs, "doc_id", 0.25)
    val n = docs.count().toDouble
    val kept = s1.count()
    assert(math.abs(kept / n - 0.25) < 0.08, s"rate off: ${kept / n}")
    assert(SampleOps.bernoulliSample(docs, "doc_id", 0.25).collect().toSet ==
      s1.collect().toSet, "must be run-to-run deterministic")
    // a doc's fate depends only on its own id: sampling half the corpus
    // keeps exactly the sampled docs that fall in that half
    val half = docs.filter(col("doc_id") % 2 === 0)
    assert(SampleOps.bernoulliSample(half, "doc_id", 0.25)
      .select("doc_id").collect().toSet ==
      s1.filter(col("doc_id") % 2 === 0).select("doc_id").collect().toSet)

    // stratified: per-stratum counts are EXACTLY ceil(n * frac)
    val strat = SampleOps.stratifiedSample(docs, "doc_id", "lang", 0.2)
    val got = strat.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> math.ceil(r.getLong(1) * 0.2).toLong).toMap
    assert(got == want, s"got $got want $want")

    // mixture: every kept doc STARTS under its domain budget (overshoot
    // bounded by one doc), and every budgeted domain contributes
    val budgets = Map("en" -> 4000L, "de" -> 1500L, "es" -> 1500L, "fr" -> 1000L, "zh" -> 2000L)
    val toks = docs.select(col("doc_id"), col("lang"),
      TextOps.tokenCount(col("text")).as("tokens"))
    val mix = SampleOps.tokenBudgetMixture(toks, "doc_id", "lang", "tokens", budgets)
    val byLang = mix.groupBy("lang")
      .agg(sum("tokens").as("tok"), max(col("cum_tokens") - col("tokens")).as("maxStart"),
        count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    for ((lang, budget) <- budgets) {
      val (_, maxStart, cnt) = byLang(lang)
      assert(cnt >= 1, s"$lang: budgeted domain must contribute")
      assert(maxStart < budget, s"$lang: a kept doc started at/after budget")
    }
    // each domain's selection is budget-exhausting: total tokens reach
    // the budget (or the domain ran out of docs entirely)
    val totalByLang = toks.groupBy("lang").agg(sum("tokens").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((lang, budget) <- budgets) {
      val (tok, _, _) = byLang(lang)
      assert(tok >= math.min(budget, totalByLang(lang)), s"$lang: budget under-filled")
    }

    // shuffle: a deterministic permutation — pos is exactly 1..N
    val shuf = SampleOps.deterministicShuffle(docs, "doc_id")
    val poss = shuf.select("pos").collect().map(_.getLong(0)).sorted
    assert(poss.toSeq == (1L to n.toLong).toSeq, "pos must be a permutation of 1..N")
    assert(SampleOps.deterministicShuffle(docs, "doc_id").collect().toSet ==
      shuf.collect().toSet, "must be run-to-run deterministic")
  }

  test("chunking invariants: full coverage, exact overlap, short tail") {
    val ss = spark; import ss.implicits._
    val text117 = (1 to 117).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, text117), (2L, "only four words here"), (3L, "")).toDF("id", "text")
    val chunks = TextOps.chunkDocuments(docs, "id", "text", chunkTokens = 50, overlap = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))

    // doc 1: starts 1, 41, 81 -> spans [1,50], [41,90], [81,117]
    val d1 = chunks.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.map(c => (c._3, c._4)).toSeq == Seq((1L, 50L), (41L, 50L), (81L, 37L)))
    // consecutive chunks overlap by exactly `overlap` tokens
    assert(d1(0)._5.split(" ").takeRight(10).toSeq == d1(1)._5.split(" ").take(10).toSeq)
    // every token appears in some chunk, in order
    assert(d1.flatMap(c => c._5.split(" ")).distinct.length == 117)
    // short doc: one full-coverage chunk; empty doc: one empty chunk
    assert(chunks.filter(_._1 == 2L).toSeq.map(c => (c._2, c._4)) == Seq((1L, 4L)))
    assert(chunks.filter(_._1 == 3L).toSeq.map(c => (c._2, c._4, c._5)) == Seq((1L, 0L, "")))
  }

  test("simhash scale knob: tighter maxDist is exact, not approximate") {
    // the documented 100 TB path is tightening maxDist (wider, sparser
    // segments); pigeonhole banding is EXACT for its bound at any
    // setting, so maxDist=3 (4 segments x 15 bits, 512x sparser buckets)
    // must equal the maxDist=9 result filtered to hamming <= 3
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    def pairs(maxDist: Int) =
      DedupOps.simhashPairs(docs, "id", "text", maxDist)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val wide = pairs(9)
    val tight = pairs(3)
    assert(tight == wide.filter(_._3 <= 3),
      "tight banding must find exactly the wide result's <=3 pairs")
  }

  test("simhashAutoSegments pins the density-safe split per corpus size") {
    // targetDensity=128: the widths the auto path picks are a CONTRACT
    // (the oracle replays them from the same counts) — pin them
    val expected = Seq(
      0L -> 10, 5000L -> 10, 8192L -> 10,       // sf0.01 regime
      8193L -> 6, 50000L -> 6, 131072L -> 6,    // sf0.1 regime
      131073L -> 5, 500000L -> 5, 524288L -> 5, // sf1 regime
      524289L -> 4, 4194304L -> 4,
      4194305L -> 3, 100000000L -> 3,
      134217729L -> 2, 10000000000L -> 2)
    for ((n, s) <- expected)
      assert(DedupOps.simhashAutoSegments(n) == s, s"n=$n expected $s")
    // a raised density target widens the split at the same corpus size
    assert(DedupOps.simhashAutoSegments(50000L, targetDensity = 1024L) == 10)
  }

  test("simhashPairsAuto equals the manual split it picks") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    // sf0.01 (~5k docs) prices into the 10-segment regime -> the auto
    // result must be EXACTLY the manual maxDist=9 result
    val auto = DedupOps.simhashPairsAuto(docs, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val manual = DedupOps.simhashPairs(docs, "id", "text", maxDist = 9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(auto == manual)
    // the PLAIN call (no maxDist) routes through the auto pick — the
    // scale-safe path is the default API (round-5 VERDICT #4)
    val default = DedupOps.simhashPairs(docs, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(default == auto)
    // a tighter density target drops it a regime: subset with the bound
    // (500 docs at 4/bucket: 64*4 < 500 <= 1024*4 -> 6 segments)
    val tight = DedupOps.simhashPairsAuto(docs, "id", "text", targetDensity = 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(tight == manual.filter(_._3 <= 5), "4/bucket at 500 docs -> 6 segments")
  }

  test("canonicalPerCluster keeps the best-quality member of every cluster") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    val canon = DedupOps.canonicalPerCluster(docs, "id", "text", minJaccard = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val clusters = DedupOps.duplicateClusters(docs, "id", "text", minJaccard = 0.8)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val quality = docs.select(col("id"), graft.operators.TextOps.qualityScore(col("text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one row per cluster, each member count right, canonical = argmax
    // (quality desc, id asc) over the cluster's members
    val byCluster = clusters.groupBy(_._2).map { case (c, ms) => c -> ms.map(_._1) }
    assert(canon.length == byCluster.size)
    canon.foreach { case (c, id, q, n) =>
      val members = byCluster(c)
      assert(members.length.toLong == n, s"cluster $c member count")
      val best = members.minBy(m => (-quality(m), m))
      assert(id == best && q == quality(best), s"cluster $c canonical")
    }
  }

  test("splitAssign is deterministic, stable under corpus growth, and covers every row") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val splits = Seq("train" -> 900, "val" -> 50, "test" -> 50)
    val a = SampleOps.splitAssign(docs, "doc_id", splits)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // covers every row, no nulls
    assert(a.size == docs.count() && a.values.forall(s => Set("train", "val", "test")(s)))
    // rough proportions (hash-uniform; 500 docs, generous tolerance)
    val n = a.size.toDouble
    assert(math.abs(a.values.count(_ == "train") / n - 0.9) < 0.06, s"train share off: $a")
    // membership is a function of the id alone: computing the split on
    // HALF the corpus assigns the same docs to the same splits
    val b = SampleOps.splitAssign(docs.filter(col("doc_id") % 2 === 0), "doc_id", splits)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(b.forall { case (id, s) => a(id) == s })
    // weight validation
    intercept[IllegalArgumentException](
      SampleOps.splitAssign(docs, "doc_id", Seq("a" -> 500, "b" -> 400)))
    intercept[IllegalArgumentException](
      SampleOps.splitAssign(docs, "doc_id", Seq("a" -> 1001, "b" -> -1)))
  }

  test("bloom-routed incremental dedup is bit-identical to the exact form") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    val known = docs.filter(col("id") < 250)
      .select(graft.operators.TextOps.fingerprint(col("text")).as("fp")).distinct()
    val batch = docs.filter(col("id") >= 250)
    val exact = DedupOps.incrementalDeduplicate(batch, "id", "text", known)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // generous and ABUSIVE sketch sizings: the sketch must never change
    // the result, only how many rows pay the exact join
    for ((items, fpp) <- Seq((1000L, 0.01), (10L, 0.5), (1000000L, 0.000001))) {
      val bloom = DedupOps.incrementalDeduplicateBloom(batch, "id", "text", known, items, fpp)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(bloom == exact, s"items=$items fpp=$fpp diverged")
    }
  }

  test("bloom-routed dedup releases its filter: no net broadcast growth across calls") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    val known = docs.filter(col("id") < 250)
      .select(graft.operators.TextOps.fingerprint(col("text")).as("fp")).distinct()
    val batch = docs.filter(col("id") >= 250)
    // a filter big enough that one leaked copy dominates task-binary
    // noise: 4M items @1% ≈ 4.8 MB of bitset
    val items = 4000000L
    val filterBytes =
      org.apache.spark.util.sketch.BloomFilter.create(items, 0.01).bitSize() / 8
    assert(filterBytes > 4000000L)
    // warm once so Spark's own lazy one-time broadcasts are counted in
    // the baseline, then measure across repeated calls
    DedupOps.incrementalDeduplicateBloom(batch, "id", "text", known, items, 0.01).count()
    val (_, b0) = org.apache.spark.BroadcastProbe.broadcastBlocks(spark.sparkContext)
    for (_ <- 1 to 4)
      DedupOps.incrementalDeduplicateBloom(batch, "id", "text", known, items, 0.01).count()
    // destroy(blocking=false) is async — poll instead of one-shot assert
    var growth = Long.MaxValue
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (growth >= filterBytes && System.nanoTime() < deadline) {
      growth = org.apache.spark.BroadcastProbe.broadcastBlocks(spark.sparkContext)._2 - b0
      if (growth >= filterBytes) Thread.sleep(250)
    }
    // 4 leaked filters would be >= 4*filterBytes; released filters leave
    // only sub-filter noise (task binaries from the extra jobs)
    assert(growth < filterBytes,
      s"broadcast bytes grew by $growth across 4 calls (one filter = $filterBytes)")
  }

  test("mega-duplicate class: near-dup + clusters complete and label by minimum") {
    val ss = spark; import ss.implicits._
    // pathological corpus shape: one content class duplicated 400x (plus
    // light per-doc noise classes) — the in-bucket quadratic this
    // produces (~80k pairs in one band bucket) must stream through the
    // banded plans, and every member must label to the class minimum
    val mega = (0 until 400).map(i =>
      (1000L + i, "the quick brown fox jumps over the lazy dog again and again"))
    val uniques = (0 until 200).map(i =>
      (5000L + i, s"unique document number $i with words entirely of its own kind $i"))
    val docs = (mega ++ uniques).toDF("id", "text")
    val clusters = DedupOps.duplicateClusters(docs, "id", "text", minJaccard = 0.8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters.size == 600)
    for (i <- 0 until 400)
      assert(clusters(1000L + i) == 1000L, s"doc ${1000 + i} must label to the class minimum")
    for (i <- 0 until 200)
      assert(clusters(5000L + i) == 5000L + i, "uniques are their own singletons")
  }

  test("jaccardPairs df cap is inactive on normal corpora") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val capped = DedupOps.jaccardPairs(docs, "doc_id", "text", 0.8, maxShingleDf = 10000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = DedupOps.jaccardPairs(docs, "doc_id", "text", 0.8, maxShingleDf = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == uncapped && capped.nonEmpty)
  }

  test("jaccardPairs df cap drops hot shingles from the join universe") {
    val ss = spark; import ss.implicits._
    // 40 docs all sharing one boilerplate sentence (one hot shingle each
    // way), pairwise distinct otherwise; docs 0/1 additionally share their
    // entire non-boilerplate text.
    val boiler = "this content is licensed for reuse"
    val docs = (0 until 40).map { i =>
      val body = if (i <= 1) "alpha beta gamma delta epsilon zeta"
      else s"unique$i word$i token$i item$i entry$i value$i"
      (i.toLong, s"$boiler $body")
    }.toDF("doc_id", "text")

    // cap=5 < 40 removes every shingle touching the boilerplate prefix;
    // docs 0 and 1 still match on their identical bodies.
    val capped = DedupOps.jaccardPairs(docs, "doc_id", "text", 0.5, maxShingleDf = 5L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((0L, 1L)))

    // and the capped join fan-out is bounded: the uncapped inter-join
    // produces a row per co-shingled pair (>= 40*39/2 from the hot
    // shingles); capped, only the 0-1 pair survives to scoring.
    val uncapped = DedupOps.jaccardPairs(docs, "doc_id", "text", 0.0, maxShingleDf = Long.MaxValue)
      .count()
    val cappedAll = DedupOps.jaccardPairs(docs, "doc_id", "text", 0.0, maxShingleDf = 5L)
      .count()
    assert(uncapped >= 40L * 39 / 2)
    assert(cappedAll == 1L)
  }

  test("labelSilhouette: tight separated clusters score ~1e6, mixed labels go negative") {
    val ss = spark; import ss.implicits._
    // two tight clusters on orthogonal axes: silhouette ≈ 1
    def v(axis: Int, mag: Float) =
      Array.tabulate(4)(i => if (i == axis) mag else 0.0f)
    val good = Seq(
      (1L, 0L, v(0, 1.0f)), (2L, 0L, v(0, 1.1f)),
      (3L, 1L, v(1, 1.0f)), (4L, 1L, v(1, 1.1f))
    ).toDF("vec_id", "label", "embedding")
    val gs = KMeansOps.labelSilhouette(good, "vec_id", "label", "embedding")
      .orderBy("label").collect()
    assert(gs.length == 2 && gs.forall(_.getLong(2) > 900000L),
      gs.map(_.getLong(2)).mkString(","))
    // a vector labeled 0 sitting AT cluster 1's center: negative s
    val noisy = good.union(Seq((5L, 0L, v(1, 1.05f))).toDF("vec_id", "label", "embedding"))
    val ns = KMeansOps.labelSilhouette(noisy, "vec_id", "label", "embedding")
      .orderBy("label").collect()
    assert(ns.head.getLong(3) < 0L, s"mislabeled vector must drag min_sil negative: ${ns.head}")
    // single label: no b exists -> s = 0 rows, not a crash
    val solo = KMeansOps.labelSilhouette(
      good.filter(col("label") === 0), "vec_id", "label", "embedding").collect()
    assert(solo.length == 1 && solo.head.getLong(2) == 0L)
  }

  test("marginAlign: hub suppression — raw cosine picks the hub, the margin does not") {
    val ss = spark; import ss.implicits._
    // target hub at cos 0.55 to EVERY source (the degenerate center);
    // each true pair tᵢ sits at cos 0.53 with ONLY its source — raw
    // cosine picks the hub for every source, but the hub's backward
    // neighborhood mean (0.55) inflates its denominator while tᵢ's
    // (mean of 0.53 and 0) stays low, so the margin routes around it:
    //   margin(s,hub) = 0.55/((0.54+0.55)/2) ≈ 1.009
    //   margin(s,tᵢ)  = 0.53/((0.54+0.265)/2) ≈ 1.317
    def unit(parts: (Int, Double)*) = {
      val v = new Array[Double](6)
      parts.foreach { case (i, x) => v(i) = x }
      val m = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / m).toFloat)
    }
    val src = Seq(
      (1L, unit(0 -> 1.0)), (2L, unit(1 -> 1.0)), (3L, unit(2 -> 1.0))
    ).toDF("id", "embedding")
    val a = math.sqrt(1 - 3 * 0.55 * 0.55) // hub unit-norm remainder
    val b = math.sqrt(1 - 0.53 * 0.53)     // true-pair remainder
    val tgt = Seq(
      (11L, unit(0 -> 0.53, 4 -> b)),
      (12L, unit(1 -> 0.53, 4 -> b)),
      (13L, unit(2 -> 0.53, 4 -> b)),
      (14L, unit(0 -> 0.55, 1 -> 0.55, 2 -> 0.55, 3 -> a)) // the hub
    ).toDF("id", "embedding")
    val raw = SimilarityOps.bruteForceTopK(src, tgt, k = 1, excludeSelf = false)
      .filter(col("query_id") === 1).collect()
    assert(raw.head.getLong(2) == 14L, s"premise: raw cosine must pick the hub: ${raw.head}")
    val aligned = SimilarityOps.marginAlign(src, tgt, k = 2, minMarginPpm = 0L)
      .orderBy("src_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(aligned == Seq((1L, 11L), (2L, 12L), (3L, 13L)),
      s"margin must route around the hub: $aligned")
  }

  test("marginAlign divides by ACTUAL neighbor counts when a direction returns <k") {
    val ss = spark; import ss.implicits._
    // one source, two targets, k=4: the forward direction finds only 2
    // neighbors and each backward direction only 1, so the pooled
    // denominator divides by 3 actual neighbors — a fixed 2k=8 divisor
    // would deflate it and inflate every margin ~2.7x. Cosines are exact
    // at 6dp by construction: s1=e0, t1=(0.8,0.6,0,0), t2=(0.4,0,√0.84,0).
    //   pair (s1,t1): fsum=1200000 (0.8+0.4), bsum(t1)=800000
    //     denom = (1200000+800000)//3 = 666666
    //     margin = 800000·10⁶ // 666666 = 1200001 ppm
    //   pair (s1,t2): denom = (1200000+400000)//3 = 533333
    //     margin = 400000·10⁶ // 533333 = 750000 ppm
    val src = Seq((1L, Array(1.0f, 0f, 0f, 0f))).toDF("id", "embedding")
    val tgt = Seq(
      (11L, Array(0.8f, 0.6f, 0f, 0f)),
      (12L, Array(0.4f, 0f, math.sqrt(0.84).toFloat, 0f))
    ).toDF("id", "embedding")
    val rows = SimilarityOps.marginAlign(src, tgt, k = 4, minMarginPpm = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(rows.toSeq == Seq((1L, 11L, 1200001L)),
      s"expected the 3-neighbor pooled denominator (666666): ${rows.toSeq}")
  }

  test("marginAlign ANN strategy agrees with exact on most sources (sf0.01 embeddings)") {
    val ss = spark
    val e = ss.read.parquet(s"$sfDir/embeddings.parquet")
    def side(l: Int) = e.filter(col("label") === l)
      .select(col("vec_id").as("id"), col("embedding"))
    val exact = SimilarityOps.marginAlign(side(0), side(1), k = 4, minMarginPpm = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = SimilarityOps.marginAlign(side(0), side(1), k = 4, minMarginPpm = 0L,
        strategy = "lsh")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.nonEmpty)
    // candidate recall, not rank agreement: the LSH path may align a
    // source differently (or not at all) when banding misses its true
    // pair — most sources must still agree with exact
    val agree = exact.count { case (s, t) => lsh.get(s).contains(t) }
    assert(agree >= (exact.size * 0.6).toInt,
      s"lsh aligned $agree/${exact.size} sources like exact")
  }

  test("orderedPairs emits C(n,2) pairs of distinct ids; a duplicated id pairs with itself") {
    val ss = spark; import ss.implicits._
    def pairs(ids: Seq[Long]): Seq[(Long, Long)] =
      Seq(ids).toDF("ids").select(explode(DedupOps.orderedPairs("ids")).as("p"))
        .select("p.id_a", "p.id_b").as[(Long, Long)].collect().toSeq.sorted
    assert(pairs(Seq(3L, 1L, 2L)) == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    // callers pass distinct ids (the doc's requirement): a duplicate is
    // not guarded in the expression, it yields an (a, a) pair and
    // repeats its pairs with the other ids
    assert(pairs(Seq(1L, 1L, 2L)) == Seq((1L, 1L), (1L, 2L), (1L, 2L)))
  }
}
