package graft.streaming

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** Streaming corpus ingestion e2e: within-batch dedup, cross-batch
  * exists-cache, quality/language gates, restart persistence. */
class DocStreamSpec extends AnyFunSuite with SharedSpark {

  private def jsonl(dir: String, name: String, docs: Seq[(Long, String)]): Unit = {
    Files.createDirectories(Paths.get(dir))
    val lines = docs.map { case (id, text) =>
      val esc = text.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
      s"""{"doc_id":$id,"text":"$esc"}"""
    }
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes("UTF-8"))
  }

  // long enough to clear the length floor of the quality score
  private def goodText(tag: String) =
    s"the quick brown fox $tag jumps over the lazy dog and runs on to the field " * 3

  test("doc stream: dedup within and across batches, quality gate, restart persistence") {
    val work = Files.createTempDirectory("graft-docstream").toString
    def stream() = new DocStream(spark, s"$work/drop", s"$work/corpus", s"$work/ckpt",
      minQuality = 500L, maxFilesPerTrigger = Some(1))

    // phase 1: two files -> two batches; doc 3 duplicates doc 1's text
    // (within feed), doc 4 is junk (quality floor)
    jsonl(s"$work/drop", "a.jsonl", Seq(
      1L -> goodText("alpha"),
      2L -> goodText("beta"),
      3L -> goodText("alpha")))
    jsonl(s"$work/drop", "b.jsonl", Seq(
      4L -> "%%% ### !!!",
      5L -> goodText("gamma")))
    stream().runAvailableNow()

    val got1 = stream().accepted().select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got1.toSeq == Seq(1L, 2L, 5L),
      s"dup text and junk must be rejected, got ${got1.toSeq}")

    // phase 2 on a NEW instance over the same checkpoint (the restart
    // contract: one checkpoint lineage per corpus dir): a re-sent dup
    // of accepted content is rejected by the exists-cache, a new doc is
    // admitted
    jsonl(s"$work/drop", "c.jsonl", Seq(
      6L -> goodText("alpha"), // fingerprint-dup of accepted doc 1
      7L -> goodText("delta")))
    val s2 = stream()
    s2.runAvailableNow()

    val got2 = s2.accepted().select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got2.toSeq == Seq(1L, 2L, 5L, 7L),
      s"cross-restart exists-cache must reject re-sent content, got ${got2.toSeq}")

    // per-reason admission stats of the last batch (docs 6, 7): no
    // within-batch dups, 6 dup-existing, 7 admitted
    val (_, admitted, dupBatch, dupExisting, lowQ, wrongLang) = s2.lastBatchStats
    assert((admitted, dupBatch, dupExisting, lowQ, wrongLang) == ((1L, 0L, 1L, 0L, 0L)),
      s"stats mismatch: ${s2.lastBatchStats}")
  }

  test("doc stream: online compaction bounds corpus dir count, content intact") {
    val work = Files.createTempDirectory("graft-docstream-compact").toString
    val s = new DocStream(spark, s"$work/drop", s"$work/corpus", s"$work/ckpt",
      minQuality = 0L, maxFilesPerTrigger = Some(1), compactEveryBatches = Some(2))
    for (i <- 0 until 6)
      jsonl(s"$work/drop", s"f$i.jsonl", Seq((i.toLong, goodText(s"doc$i"))))
    s.runAvailableNow()
    val dirs = new java.io.File(s"$work/corpus").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName)
    assert(dirs.length < 6, s"6 batches must fold below 6 dirs, got ${dirs.toSeq}")
    assert(dirs.exists(_.startsWith("batch=c")), "at least one compacted dir")
    assert(s.accepted().select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L to 5L), "every admitted doc exactly once through the folds")
    // dedup against compacted dirs still holds: replaying known content
    // admits nothing
    jsonl(s"$work/drop", "dup.jsonl", Seq(100L -> goodText("doc3")))
    s.runAvailableNow()
    assert(s.accepted().count() == 6, "compacted fingerprints still gate admission")
  }

  test("doc stream: repetition gate rejects one-word-dominated docs") {
    val work = Files.createTempDirectory("graft-docstream-rep").toString
    val s = new DocStream(spark, s"$work/drop", s"$work/corpus", s"$work/ckpt",
      minQuality = 0L, maxTopWordFrac = Some(0.3))
    jsonl(s"$work/drop", "a.jsonl", Seq(
      1L -> "the quick brown fox jumps over a lazy dog near the river bank today",
      2L -> ("spam " * 20 + "one real word here")))
    s.runAvailableNow()
    assert(s.accepted().select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L),
      "the spam-dominated doc must be rejected")
    val (_, admitted, _, _, _, rejected) = s.lastBatchStats
    assert((admitted, rejected) == ((1L, 1L)), s"stats: ${s.lastBatchStats}")
  }

  test("doc stream: gopher/c4 rule gates admit exactly the batch-audit pass set") {
    val work = Files.createTempDirectory("graft-docstream-rules").toString
    val s = new DocStream(spark, s"$work/drop", s"$work/corpus", s"$work/ckpt",
      minQuality = 0L, requireGopher = true, requireC4 = true)
    // doc 1 passes both rule sets: 5 terminal 12-word lines, 60 words,
    // stop words present; doc 2 fails ONLY c4 (no terminal
    // punctuation); doc 3 fails ONLY gopher (30 words, under the
    // 50-word floor, but 5 clean terminal sentences)
    val line = "alpha bravo charlie delta echo the be of and have one two."
    val both = Seq.fill(5)(line).mkString("\n")
    jsonl(s"$work/drop", "a.jsonl", Seq(
      1L -> both,
      2L -> both.replace(".", ""),
      3L -> Seq.fill(5)("This is the valid sentence here.").mkString("\n")))
    s.runAvailableNow()
    assert(s.accepted().select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L),
      "only the doc passing BOTH rule sets may be admitted")
    val (_, admitted, _, _, _, rejected) = s.lastBatchStats
    assert((admitted, rejected) == ((1L, 2L)), s"stats: ${s.lastBatchStats}")
  }

  test("doc stream: streaming line scrub removes boilerplate across batches") {
    val work = Files.createTempDirectory("graft-docstream-lines").toString
    def stream() = new DocStream(spark, s"$work/drop", s"$work/corpus", s"$work/ckpt",
      minQuality = 0L, maxFilesPerTrigger = Some(1), dedupLinesMaxDf = Some(1L),
      compactEveryBatches = Some(2))
    val footer = "ALL RIGHTS RESERVED FOOTER"
    // phase 1: two docs share the footer -> df=2 > 1 within the batch,
    // both admitted docs come out scrubbed
    jsonl(s"$work/drop", "a.jsonl", Seq(
      1L -> s"alpha body one\n$footer",
      2L -> s"beta body two\n$footer"))
    stream().runAvailableNow()
    // phase 2 (separate run so the batch is strictly LATER): a NEW doc
    // carries the same footer -> hot purely from HISTORY
    jsonl(s"$work/drop", "b.jsonl", Seq(
      3L -> s"gamma body three\n$footer\nmore gamma"))
    stream().runAvailableNow()
    val got = stream().accepted().select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "alpha body one", s"got ${got(1L)}")
    assert(got(2L) == "beta body two")
    assert(got(3L) == "gamma body three\nmore gamma",
      "history line-df must scrub later batches")
    // one-doc batch: 3 lines total, 1 scrubbed
    val s2 = stream()
    jsonl(s"$work/drop", "c.jsonl", Seq(4L -> s"delta\n$footer\nbody"))
    s2.runAvailableNow()
    assert(s2.lastScrubStats._2 == 3L && s2.lastScrubStats._3 == 1L,
      s"scrub stats: ${s2.lastScrubStats}")
    // the _linedf side table must not leak into the corpus read
    assert(stream().accepted().columns.toSet ==
      Set("doc_id", "text", "fp", "quality", "lang_guess"))
  }

  test("doc stream: an exact duplicate cannot scrub itself to empty (content counts once)") {
    // r4 ADVICE: with scrub before dedup, a second copy of an admitted
    // doc used to push every one of its own lines over the df cap —
    // both copies scrubbed to empty, and the empty doc was ADMITTED at
    // minQuality=0 instead of being recognized as a duplicate
    val work = Files.createTempDirectory("graft-docstream-dupscrub").toString
    def stream() = new DocStream(spark, s"$work/drop", s"$work/corpus", s"$work/ckpt",
      minQuality = 0L, maxFilesPerTrigger = Some(1), dedupLinesMaxDf = Some(1L))
    val body = "unique document body\nwith a second line"
    jsonl(s"$work/drop", "a.jsonl", Seq(1L -> body))
    stream().runAvailableNow()
    // later batch: byte-identical copy — its lines must NOT re-count
    val s2 = stream()
    jsonl(s"$work/drop", "b.jsonl", Seq(2L -> body))
    s2.runAvailableNow()
    val got = s2.accepted().select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> body),
      s"the copy must be dropped as an existing dup, the original intact: $got")
    assert(s2.lastBatchStats._4 == 1L, s"dupExisting expected: ${s2.lastBatchStats}")
    // two copies of NEW content in ONE batch: one representative counts
    // (df=1, not hot), within-batch dedup keeps the min id, full text
    val s3 = stream()
    val body3 = "fresh content here\nanother fresh line"
    jsonl(s"$work/drop", "c.jsonl", Seq(5L -> body3, 6L -> body3))
    s3.runAvailableNow()
    val got3 = s3.accepted().select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got3 == Map(1L -> body, 5L -> body3), s"got $got3")
  }

  test("doc stream: retroScrubLines cleans late-hot lines from already-admitted docs") {
    val work = Files.createTempDirectory("graft-docstream-retro").toString
    def stream() = new DocStream(spark, s"$work/drop", s"$work/corpus", s"$work/ckpt",
      minQuality = 0L, maxFilesPerTrigger = Some(1), dedupLinesMaxDf = Some(1L))
    val footer = "COMMON FOOTER LINE"
    // batch 1: the footer is df=1 -> not hot -> doc 1 admitted DIRTY
    jsonl(s"$work/drop", "a.jsonl", Seq(1L -> s"alpha body\n$footer"))
    stream().runAvailableNow()
    // batch 2: second doc makes the footer hot -> doc 2 admitted clean,
    // doc 1 still carries it (the forward-only gap)
    val s2 = stream()
    jsonl(s"$work/drop", "b.jsonl", Seq(2L -> s"beta body\n$footer\nbeta end"))
    s2.runAvailableNow()
    val before = s2.accepted().select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(before(1L) == s"alpha body\n$footer", "doc 1 dirty before the retro pass")
    assert(before(2L) == "beta body\nbeta end", "doc 2 scrubbed forward")
    // the retro pass rewrites exactly doc 1's dir — the CLEAN dir's
    // data files must be physically untouched (the scale property: the
    // one partitioned write covers only dirty batch= partitions, no
    // corpus-wide rewrite)
    def dirFiles(name: String): Map[String, Long] = {
      val d = new java.io.File(s"$work/corpus/$name")
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val cleanBefore = dirFiles("batch=b1") // doc 2's dir (batch ids: 0, 1)
    val s3 = stream()
    assert(s3.retroScrubLines(1L) == ((1L, 1L)))
    assert(dirFiles("batch=b1") == cleanBefore,
      "clean dir rewritten — the retro pass must touch only dirty partitions")
    val after = s3.accepted().select("doc_id", "text", "fp", "quality")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val afterMap = after.map(t => t._1 -> t._2).toMap
    assert(afterMap == Map(1L -> "alpha body", 2L -> "beta body\nbeta end"), s"$afterMap")
    // rewritten columns keep their invariants (fp/quality recomputed)
    val ss = spark; import ss.implicits._
    val expect = after.map(_._2).toSeq.toDF("text")
      .select(graft.operators.TextOps.fingerprint(org.apache.spark.sql.functions.col("text")))
      .collect().map(_.getString(0)).toSet
    assert(after.map(_._3).toSet == expect, "fp = fingerprint(text) after rewrite")
    // idempotent: a second pass rewrites nothing
    assert(s3.retroScrubLines(1L) == ((0L, 0L)))
    // and the stream keeps running against the rewritten corpus
    val s4 = stream()
    jsonl(s"$work/drop", "c.jsonl", Seq(9L -> "gamma entirely new\ngamma second line"))
    s4.runAvailableNow()
    val cont = s4.accepted().select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cont(9L) == "gamma entirely new\ngamma second line" && cont.size == 3, s"$cont")
  }

  test("doc stream: bloom-routed exists-check admits the same corpus as the exact path") {
    // two identical feeds, one with bloom routing; maxFilesPerTrigger=1
    // makes one batch per file, so several batches run INSIDE one
    // DocStream instance and the in-memory filter actually routes. The
    // feed hits every path: dup of COMPACTED in-bloom history (hit ->
    // full join), dup of post-fence TAIL (miss -> tail join), fresh
    // (miss, no tail hit). Phase 1 compacts so history folds into a
    // c-dir; phase 2 disables compaction so the tail survives.
    def feed(work: String, bloom: Boolean): Map[Long, String] = {
      def mk(compact: Option[Int]) = new DocStream(spark, s"$work/drop", s"$work/corpus",
        s"$work/ckpt", minQuality = 0L, maxFilesPerTrigger = Some(1),
        compactEveryBatches = compact,
        bloomExpectedItems = if (bloom) Some(1000L) else None, bloomRebuildEvery = 100)
      // batch ORDER must be deterministic: the file source orders by
      // modification time, and rapid writes tie — stamp each file with
      // a strictly increasing mtime
      var mtime = System.currentTimeMillis() - 60000
      def drop(name: String, docs: Seq[(Long, String)]): Unit = {
        jsonl(s"$work/drop", name, docs)
        mtime += 2000
        Files.setLastModifiedTime(Paths.get(s"$work/drop", name),
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
      // phase 1: batches 0,1; compaction at b1 folds b0 into a c-dir
      drop("a.jsonl", Seq(1L -> goodText("one"), 2L -> goodText("two")))
      drop("b.jsonl", Seq(3L -> goodText("three")))
      mk(Some(1)).runAvailableNow()
      // phase 2, one instance: b2 (fallback, filter builds after it),
      // b3 (routed; "ten" admitted PAST the fence), b4 (routed: dup of
      // in-bloom "one" -> hit path, dup of tail "ten" -> miss path)
      drop("c.jsonl", Seq(9L -> goodText("nine")))
      drop("d.jsonl", Seq(10L -> goodText("ten")))
      drop("e.jsonl", Seq(
        4L -> goodText("one"), 5L -> goodText("ten"), 6L -> goodText("six")))
      val s = mk(None)
      s.runAvailableNow()
      assert(s.lastBatchStats._4 == 2, s"both dups rejected as existing: ${s.lastBatchStats}")
      s.accepted().select("doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    val wb = Files.createTempDirectory("graft-docstream-bloom").toString
    val bloomed = feed(wb, bloom = true)
    val we = Files.createTempDirectory("graft-docstream-exact").toString
    val exact = feed(we, bloom = false)
    assert(bloomed == exact, s"bloom-routed corpus diverged:\n$bloomed\nvs\n$exact")
    assert(bloomed.keySet == Set(1L, 2L, 3L, 9L, 10L, 6L))
  }

  test("doc stream: language gate admits only listed languages") {
    val work = Files.createTempDirectory("graft-docstream-lang").toString
    val s = new DocStream(spark, s"$work/drop", s"$work/corpus", s"$work/ckpt",
      minQuality = 0L, langs = Seq("en"))
    jsonl(s"$work/drop", "a.jsonl", Seq(
      1L -> "the cat and the dog of the house is to go",
      2L -> "der hund und die katze ist und das haus und der baum ist gross"))
    s.runAvailableNow()
    assert(s.accepted().select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(s.lastBatchStats._2 == 1, "one admitted")
  }

  /** JSONL writer with an optional url field (None omits the key —
    * the source schema reads it as null). */
  private def jsonlU(dir: String, name: String,
                     docs: Seq[(Long, String, Option[String])]): Unit = {
    Files.createDirectories(Paths.get(dir))
    val lines = docs.map { case (id, text, url) =>
      val esc = text.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")
      val u = url.map(v => s""","url":"$v"""").getOrElse("")
      s"""{"doc_id":$id,"text":"$esc"$u}"""
    }
    Files.write(Paths.get(dir, name), lines.mkString("\n").getBytes("UTF-8"))
  }

  test("url-dedup gate: canonical identity within batch, across batches and restarts; null urls bypass") {
    val work = Files.createTempDirectory("graft-docstream-url").toString
    def stream() = new DocStream(spark, s"$work/drop", s"$work/corpus", s"$work/ckpt",
      minQuality = 500L, maxFilesPerTrigger = Some(1), dedupUrls = true)
    // phase 1: docs 1 and 2 are the SAME canonical resource
    // (scheme/www/utm differences) with DIFFERENT content — content
    // fingerprints can't catch this, the url gate must; doc 4 has no
    // url and bypasses. (Phases run separately: two files written
    // back-to-back can tie on mtime and flip batch order.)
    jsonlU(s"$work/drop", "a.jsonl", Seq(
      (1L, goodText("alpha"), Some("https://www.example.com/page?utm_source=x")),
      (2L, goodText("beta"), Some("http://example.com/page")),
      (3L, goodText("gamma"), Some("https://other.com/p")),
      (4L, goodText("delta"), None)))
    val s0 = stream()
    s0.runAvailableNow()
    val got0 = s0.accepted().select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got0.toSeq == Seq(1L, 3L, 4L), s"got ${got0.toSeq}")
    assert(s0.lastUrlStats == ((0L, 1L, 0L)),
      s"batch 0: one within-batch url dup, got ${s0.lastUrlStats}")
    // phase 2: doc 5 is doc 1's resource with a trailing slash
    // (cross-batch seen-url hit), doc 6 is fresh
    jsonlU(s"$work/drop", "b.jsonl", Seq(
      (5L, goodText("epsilon"), Some("https://example.com/page/")),
      (6L, goodText("zeta"), Some("https://new.com/q"))))
    val s1 = stream()
    s1.runAvailableNow()
    val got1 = s1.accepted().select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got1.toSeq == Seq(1L, 3L, 4L, 6L), s"got ${got1.toSeq}")
    assert(s1.lastUrlStats == ((1L, 0L, 1L)),
      s"batch 1: one cross-batch url dup, got ${s1.lastUrlStats}")
    // restart on the same checkpoint: a fragment variant of doc 3's url
    // must be rejected from the persisted _urlfps history
    jsonlU(s"$work/drop", "c.jsonl", Seq(
      (7L, goodText("eta"), Some("http://www.other.com/p#frag")),
      (8L, goodText("theta"), Some("https://fresh.com/r"))))
    val s2 = stream()
    s2.runAvailableNow()
    val got2 = s2.accepted().select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got2.toSeq == Seq(1L, 3L, 4L, 6L, 8L), s"got ${got2.toSeq}")
    assert(s2.lastUrlStats._3 == 1L, s"doc 7 is a seen-url hit, got ${s2.lastUrlStats}")
    // the corpus schema is unchanged by the gate (url never lands)
    assert(!s2.accepted().columns.contains("url"))
  }

  test("doc stream: CDC chunk gate — re-crawl with changed boilerplate rejected; stream ≡ batch containment; fold included") {
    val work = Files.createTempDirectory("graft-docstream-cdc").toString
    def stream() = new DocStream(spark, s"$work/drop", s"$work/corpus", s"$work/ckpt",
      minQuality = 0L, maxFilesPerTrigger = Some(1),
      compactEveryBatches = Some(1), // fold after EVERY batch — the gate
      // must read folded history identically to live b-dirs
      dedupChunksMinShared = Some(2))
    // a shared body long enough for several content-defined chunks
    // (expected chunk ~64 chars at maskMod 64)
    val body = (1 to 120).map(i => s"w${i * 7 % 97}").mkString(" ")
    // doc 2 and doc 4 must be chunk-disjoint — goodText's repeated
    // sentence would legitimately pair them, so each gets its own
    // word sequence
    val other = (1 to 90).map(i => s"q${i * 13 % 89}").mkString(" ")
    val freshW = (1 to 90).map(i => s"z${i * 11 % 83}").mkString(" ")
    val docs1 = Seq(1L -> s"original header $body", 2L -> other)
    val docs2 = Seq(
      3L -> s"totally new banner and nav $body", // re-crawl: fp differs, chunks match
      4L -> freshW)                              // genuinely new
    jsonl(s"$work/drop", "a.jsonl", docs1)
    val s1 = stream()
    s1.runAvailableNow()
    assert(s1.accepted().count() == 2L)
    jsonl(s"$work/drop", "b.jsonl", docs2)
    val s2 = stream()
    s2.runAvailableNow()
    val got = s2.accepted().select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(1L, 2L, 4L),
      s"the re-crawled page must be chunk-rejected, the fresh one admitted: ${got.toSeq}")
    assert(s2.lastChunkStats._2 == 1L, s"chunk stats: ${s2.lastChunkStats}")
    // chunk rejects count in dupExisting (lastChunkStats is the breakdown)
    assert(s2.lastBatchStats._4 == 1L, s"batch stats: ${s2.lastBatchStats}")
    // stream ≡ batch: the gate's decision replays as cdcContainmentPairs
    // between the batch-2 docs and the batch-1 admitted corpus — same
    // kernel, same geometry, same minShared
    val ss = spark; import ss.implicits._
    val all = (docs1 ++ docs2).toDF("doc_id", "text")
    val pairs = graft.operators.DedupOps
      .cdcContainmentPairs(all, "doc_id", "text", minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expectedRejects = docs2.map(_._1).filter(id =>
      docs1.map(_._1).exists(a => pairs.contains((math.min(a, id), math.max(a, id)))))
    assert(expectedRejects == Seq(3L),
      s"fixture must pair exactly the re-crawl cross-batch: $pairs")
    // and a replayed-content THIRD batch still gates against the now-
    // compacted chunk history (the fold moved b-dirs into c-dirs)
    jsonl(s"$work/drop", "c.jsonl", Seq(5L -> s"yet another skin $body"))
    val s3 = stream()
    s3.runAvailableNow()
    assert(!s3.accepted().select("doc_id").collect().map(_.getLong(0)).contains(5L),
      "post-fold history must still chunk-reject")
    assert(s3.lastChunkStats._2 == 1L, s"post-fold chunk stats: ${s3.lastChunkStats}")
  }

  test("doc stream: latency histogram — one sample per active stage per batch, bounded state, ordered percentiles") {
    val work = Files.createTempDirectory("graft-docstream-lat").toString
    val s = new DocStream(spark, s"$work/drop", s"$work/corpus", s"$work/ckpt",
      minQuality = 0L, maxFilesPerTrigger = Some(1), dedupUrls = true)
    jsonlU(s"$work/drop", "a.jsonl", Seq(
      (1L, goodText("alpha"), Some("http://a.com/1"))))
    jsonlU(s"$work/drop", "b.jsonl", Seq(
      (2L, goodText("beta"), Some("http://a.com/2"))))
    s.runAvailableNow()
    val hist = s.latencyHistogram().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val perStage = hist.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    // two batches -> exactly two samples per ACTIVE stage; disabled
    // stages (scrub, chunk, monitor) record nothing
    for (stage <- Seq("ingest", "url", "admit", "maintain"))
      assert(perStage.get(stage).contains(2L), s"$stage: $perStage")
    for (stage <- Seq("scrub", "chunk", "monitor"))
      assert(!perStage.contains(stage), s"disabled $stage sampled: $perStage")
    // bounded state: every bucket bound is a power of two <= 2^14 or
    // the overflow marker — the contract that makes the state fixed
    assert(hist.forall { case (_, le, _) =>
      le == -1L || (le >= 1L && le <= (1L << 14) && (le & (le - 1L)) == 0L) })
    // percentile reads: defined, monotone, and -1 for unknown stages
    val p50 = s.latencyPercentile("admit", 50)
    val p99 = s.latencyPercentile("admit", 99)
    assert(p50 >= 1L && p99 >= p50, s"p50=$p50 p99=$p99")
    assert(s.latencyPercentile("nope", 50) == -1L)
  }

  test("doc stream: latency export — persisted deltas sum to the in-memory histograms; folds and restarts compose") {
    val work = Files.createTempDirectory("graft-docstream-latx").toString
    def stream() = new DocStream(spark, s"$work/drop", s"$work/corpus", s"$work/ckpt",
      minQuality = 0L, maxFilesPerTrigger = Some(1),
      compactEveryBatches = Some(1), exportLatency = true)
    jsonl(s"$work/drop", "a.jsonl", Seq(1L -> goodText("alpha")))
    jsonl(s"$work/drop", "b.jsonl", Seq(2L -> goodText("beta")))
    val s1 = stream()
    s1.runAvailableNow()
    def sums(df: org.apache.spark.sql.DataFrame) = df.collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    val mem1 = sums(s1.latencyHistogram())
    val per1 = sums(s1.latencyHistogramPersisted())
    assert(per1 == mem1, s"persisted $per1 != in-memory $mem1")
    assert(per1.values.forall(_ == 2L), s"two batches -> two samples per stage: $per1")
    // restart: a NEW instance starts with empty in-memory state but the
    // persisted (folded) history keeps accumulating across epochs
    jsonl(s"$work/drop", "c.jsonl", Seq(3L -> goodText("gamma")))
    val s2 = stream()
    s2.runAvailableNow()
    val per2 = sums(s2.latencyHistogramPersisted())
    assert(per2.values.forall(_ == 3L),
      s"three batches across two sessions, folds included: $per2")
    assert(sums(s2.latencyHistogram()).values.forall(_ == 1L),
      "in-memory state is per-session by design")
  }

  test("doc stream: latency alarm — p99 two log2 steps over persisted history flags; no history never flags") {
    val ss = spark; import ss.implicits._
    val work = Files.createTempDirectory("graft-docstream-alarm").toString
    def stream() = new DocStream(spark, s"$work/drop", s"$work/corpus", s"$work/ckpt",
      minQuality = 0L, maxFilesPerTrigger = Some(1), exportLatency = true)
    // plant a history epoch claiming every stage ran at <= 1 ms: any
    // real batch's p99 sits many log2 steps above it
    Seq(("ingest", 1L, 50L), ("admit", 1L, 50L), ("maintain", 1L, 50L))
      .toDF("stage", "le_ms", "count")
      .write.parquet(s"$work/corpus/_latency/batch=b999")
    jsonl(s"$work/drop", "a.jsonl", Seq(1L -> goodText("alpha")))
    val s1 = stream()
    s1.runAvailableNow()
    val alarm = s1.latencyAlarm(minSteps = 2).map(a => a._1 -> a).toMap
    for (stage <- Seq("ingest", "admit")) {
      val (_, hp, sp, flagged) = alarm(stage)
      assert(hp == 1L, s"$stage history p99 $hp")
      assert(flagged && (sp == -1L || sp >= 4L),
        s"$stage must flag against the 1 ms history: p99=$sp")
    }
    // a fresh corpus (no history at all) never flags — the
    // first-session convention
    val work2 = Files.createTempDirectory("graft-docstream-alarm2").toString
    val s2 = new DocStream(spark, s"$work2/drop", s"$work2/corpus", s"$work2/ckpt",
      minQuality = 0L, maxFilesPerTrigger = Some(1))
    jsonl(s"$work2/drop", "a.jsonl", Seq(1L -> goodText("alpha")))
    s2.runAvailableNow()
    assert(s2.latencyAlarm().nonEmpty && s2.latencyAlarm().forall(!_._4),
      s"no-history session must not flag: ${s2.latencyAlarm()}")
  }

  test("doc stream: durable alarm log — persisted rows equal in-session flags, survive folds and restarts; silent batches write nothing") {
    val ss0 = spark; import ss0.implicits._
    val work = Files.createTempDirectory("graft-docstream-alog").toString
    def stream() = new DocStream(spark, s"$work/drop", s"$work/corpus", s"$work/ckpt",
      minQuality = 0L, maxFilesPerTrigger = Some(1),
      compactEveryBatches = Some(1), driftTolMilli = Some(50L),
      exportLatency = true)
    // plant a 1 ms-everything latency history: every real batch's p99
    // flags against it (the latency-alarm spec's epoch trick)
    Seq(("ingest", 1L, 50L), ("admit", 1L, 50L), ("maintain", 1L, 50L))
      .toDF("stage", "le_ms", "count")
      .write.parquet(s"$work/corpus/_latency/batch=b999")
    jsonl(s"$work/drop", "a.jsonl", Seq(1L -> goodText("alpha"), 2L -> goodText("beta")))
    // batch 2: sagging stopword docs -> the drift monitor flags too
    jsonl(s"$work/drop", "b.jsonl", Seq(5L -> "the of and to", 6L -> "a in is it"))
    val s1 = stream()
    s1.runAvailableNow()
    val persisted = s1.alarmsPersisted().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // in-session flags must appear durably: every currently-flagged
    // latency stage has a persisted row for the LAST batch...
    val lastBatch = persisted.map(_._5).max
    val sessFlags = s1.latencyAlarm().collect { case (st, hp, sp, true) => (st, hp, sp) }.toSet
    val lastLat = persisted.filter(p => p._1 == "latency" && p._5 == lastBatch)
      .map(p => (p._2, p._3, p._4)).toSet
    assert(sessFlags.nonEmpty && lastLat == sessFlags,
      s"persisted latency flags $lastLat != in-session $sessFlags")
    // ...and the sagging batch logged a quality row with the mean pair
    val qRows = persisted.filter(_._1 == "quality")
    assert(qRows.nonEmpty, s"drift flag must persist: ${persisted.toSeq}")
    assert(qRows.forall(q => math.abs(q._3 - q._4) >= 50L),
      s"quality rows carry a mean pair at least tol apart: ${qRows.toSeq}")
    // fold + restart: a NEW session reads the identical event log
    // (folds are concatenation-merges) and keeps appending to it
    val before = persisted.toSet
    jsonl(s"$work/drop", "c.jsonl", Seq(7L -> goodText("gamma")))
    val s2 = stream()
    s2.runAvailableNow()
    val after = s2.alarmsPersisted().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(before.subsetOf(after),
      s"fold/restart must preserve the event log: missing ${before -- after}")
    // a fresh corpus with NO histories stays silent — dirs exist (one
    // per batch, idempotent on replay) but hold zero alarm rows
    val work2 = Files.createTempDirectory("graft-docstream-alog2").toString
    val s3 = new DocStream(spark, s"$work2/drop", s"$work2/corpus", s"$work2/ckpt",
      minQuality = 0L, maxFilesPerTrigger = Some(1),
      driftTolMilli = Some(50L), exportLatency = true)
    jsonl(s"$work2/drop", "a.jsonl", Seq(1L -> goodText("alpha")))
    s3.runAvailableNow()
    assert(s3.alarmsPersisted().count() == 0L,
      "first-session convention: nothing to drift from, nothing fires")
  }

  test("doc stream: admission-rate alarm — a duplicate-heavy batch flags per reason; sums split-invariant; first batch silent") {
    val work = Files.createTempDirectory("graft-docstream-adm").toString
    def stream(sub: String) = new DocStream(spark, s"$work/$sub/drop",
      s"$work/$sub/corpus", s"$work/$sub/ckpt",
      minQuality = 0L, maxFilesPerTrigger = Some(1),
      admitTolPpm = Some(100000L)) // 10 points of rate move flags
    val docs = Seq(1L -> goodText("alpha"), 2L -> goodText("beta"))
    // batch 1: fresh docs, NO history -> silent; batch 2: the same
    // CONTENT under new ids -> 100% dup_existing vs a 100%-admitted
    // history -> both the dup_existing and admitted rates flag
    jsonl(s"$work/split/drop", "a.jsonl", docs)
    jsonl(s"$work/split/drop", "b.jsonl", Seq(11L -> goodText("alpha"), 12L -> goodText("beta")))
    val ss = stream("split")
    ss.runAvailableNow()
    val alarms = ss.alarmsPersisted().filter(org.apache.spark.sql.functions.col("kind") === "admission").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(alarms == Set(
      ("dup_existing", 0L, 1000000L, 1L),
      ("admitted", 1000000L, 0L, 1L)), s"got $alarms")
    // the persisted breakdown sums are feed-split invariant
    jsonl(s"$work/one/drop", "a.jsonl",
      docs ++ Seq(11L -> goodText("alpha"), 12L -> goodText("beta")))
    val so = stream("one")
    so.runAvailableNow()
    def st(s: DocStream) = s.admissionStats().collect()
      .map(r => (0 to 5).map(r.getLong)).head
    // one-shot: the within-batch window dedups the clones instead of
    // the exists-cache — dup bucket differs by design (forward-only
    // semantics), but totals and admitted agree
    val (sp, on) = (st(ss), st(so))
    assert(sp(0) == 4L && on(0) == 4L, s"n_in $sp vs $on")
    assert(sp(5) == 2L && on(5) == 2L, s"admitted $sp vs $on")
    assert(sp(1) + sp(2) == 2L && on(1) + on(2) == 2L,
      s"two clones rejected as dups either way: $sp vs $on")
    // and the one-shot run (a single batch, no history) stayed silent
    assert(so.alarmsPersisted().filter(org.apache.spark.sql.functions.col("kind") === "admission").count() == 0L,
      "first-batch convention: no history, no admission alarm")
  }

  test("doc stream: quality-drift monitor — stream ≡ batch moments on a split feed; sagging batch flags") {
    val work = Files.createTempDirectory("graft-docstream-drift").toString
    def stream(sub: String) = new DocStream(spark, s"$work/$sub/drop",
      s"$work/$sub/corpus", s"$work/$sub/ckpt",
      minQuality = 0L, maxFilesPerTrigger = Some(1), driftTolMilli = Some(50L))
    val docs1 = Seq(1L -> goodText("alpha"), 2L -> goodText("beta"))
    val docs2 = Seq(3L -> goodText("gamma"), 4L -> goodText("delta"))
    // split feed: two files -> two batches
    jsonl(s"$work/split/drop", "a.jsonl", docs1)
    jsonl(s"$work/split/drop", "b.jsonl", docs2)
    val ss = stream("split")
    ss.runAvailableNow()
    // single feed: the same docs in one batch
    jsonl(s"$work/one/drop", "a.jsonl", docs1 ++ docs2)
    val so = stream("one")
    so.runAvailableNow()
    // stream ≡ batch: the accumulated three-LONG moment state per
    // language is identical however the feed was split...
    def st(s: DocStream) = s.qualityStats().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(st(ss) == st(so), s"split ${st(ss)} vs one-shot ${st(so)}")
    // ...and equals the direct batch aggregation over the corpus
    val direct = so.accepted()
      .groupBy(org.apache.spark.sql.functions.col("lang_guess"))
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("quality")).as("sq"),
        org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("quality") *
            org.apache.spark.sql.functions.col("quality")).as("sq2"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(st(so) == direct, s"monitor ${st(so)} vs direct $direct")
    // a sagging batch (short stopword-only docs, still admitted at
    // minQuality 0) must flag: its mean is far below the corpus mean
    jsonl(s"$work/split/drop", "c.jsonl", Seq(
      5L -> "the of and to", 6L -> "a in is it"))
    val s3 = stream("split")
    s3.runAvailableNow()
    val (_, ppm, maxAbs, flagged) = s3.lastDriftStats
    assert(ppm == 1000000L, s"all sag docs admitted at minQuality=0, got ppm $ppm")
    assert(maxAbs >= 50L && flagged >= 1L,
      s"quality sag must flag: maxAbs=$maxAbs flagged=$flagged")
  }
}
