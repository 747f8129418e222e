package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/**
 * Scale-behavior specs for the streaming ingest: TTL-bounded
 * exists-cache (re-emission after expiry, partition-pruned restart seed
 * scan, commit only after a batch's writes, per-batch counters),
 * idempotent batch replay, cache clear, and table compaction.
 */
class IngestScaleSpec extends AnyFunSuite with SharedSpark {

  private def nowSec = System.currentTimeMillis() / 1000

  private def freshIngest(ttlDays: Int = 1, maxFiles: Option[Int] = None): (StreamingIngest, String) = {
    val work = Files.createTempDirectory("graft-scale").toString
    val ingest = new StreamingIngest(spark, s"$work/spool", s"$work/tables", s"$work/ckpt",
      maxFilesPerTrigger = maxFiles, cacheTtlDays = ttlDays)
    (ingest, work)
  }

  private def spoolLines(work: String, lines: Seq[String], version: Long): Unit = {
    val w = new SpoolWriter(s"$work/spool", chunkIntervalMs = 100)
    lines.foreach(l => w.writeLine(l, version))
    w.close()
  }

  test("DocStream long-haul soak: 300 batches of compaction+bloom+scrub stay bounded") {
    // the time-axis scale test the per-query bench never exercises:
    // drive processBatch directly (the foreachBatch layer is covered by
    // DocStreamSpec's real-stream cases) for 300 micro-batches with
    // online compaction, bloom-routed exists-checks with generation
    // rebuilds, and the streaming line scrub all enabled, then assert
    // the three boundedness properties a week-long stream depends on
    val work = Files.createTempDirectory("graft-doc-soak").toString
    val ds = new DocStream(spark, s"$work/drop", s"$work/corpus", s"$work/ckpt",
      minQuality = 0L, compactEveryBatches = Some(8),
      dedupLinesMaxDf = Some(2), bloomExpectedItems = Some(2000000L),
      bloomRebuildEvery = 16)
    val boiler = "subscribe to our newsletter for daily updates"
    // a second boilerplate line PER 50-BATCH EPOCH: it goes hot during
    // its epoch (streaming scrub admits the first maxDf copies), so the
    // retroactive scrub at every epoch end has real dirty dirs to
    // rewrite — scrub-every-N is part of the soak, not a one-off
    def batchDf(b: Long) = {
      // one carrier doc per batch: the epoch line stays under the
      // streaming maxDf for the epoch's first two batches (those
      // copies are ADMITTED with the line) and goes hot later — the
      // head copies are exactly what the retroactive scrub must find
      val epochLine = s"promo epoch${b / 50} limited offer code line"
      val fresh = (0 until 5).map { i =>
        val tail = if (i == 0) s"\n$epochLine" else ""
        (b * 100 + i, s"unique content words $b $i alpha beta gamma delta\n$boiler$tail")
      }
      // every later batch re-sends one earlier doc's raw content — the
      // bloom-hit path must keep rejecting it across all 300 batches
      // (including right after a scrub reset the routing filter)
      val replay = if (b > 0)
        Seq((b * 100 + 99,
          s"unique content words ${b - 1} 1 alpha beta gamma delta\n$boiler"))
      else Nil
      spark.createDataFrame(fresh ++ replay).toDF("doc_id", "text")
    }
    val times = new Array[Double](300)
    var scrubbedDocs = 0L
    for (b <- 0 until 300) {
      val t0 = System.nanoTime()
      ds.processBatch(batchDf(b), b)
      times(b) = (System.nanoTime() - t0) / 1e9
      if (b % 50 == 49) {
        // end of epoch: retroactive scrub + (internal) bloom reset; the
        // epoch's admitted promo copies must be found and rewritten
        val (docs, cut) = ds.retroScrubLines(maxDf = 2)
        assert(docs >= 1 && cut >= 1,
          s"epoch ${b / 50} scrub found nothing: ($docs, $cut)")
        scrubbedDocs += docs
      }
    }
    assert(scrubbedDocs >= 6, s"six epoch scrubs must all rewrite: $scrubbedDocs")
    // correctness across the whole run: every fresh doc admitted once,
    // every replay rejected, boilerplate scrubbed everywhere
    val acc = ds.accepted()
    assert(acc.count() == 1500L, "5 fresh docs per batch, replays rejected")
    assert(acc.filter(col("text").contains("newsletter")).count() == 0L,
      "hot boilerplate line scrubbed from every admitted doc")
    assert(acc.filter(col("text").contains("promo epoch")).count() == 0L,
      "every epoch's promo line scrubbed (streaming for the tail, retro for the head)")
    val (_, admitted, _, dupExisting, _, _) = ds.lastBatchStats
    assert((admitted, dupExisting) == ((5L, 1L)), s"final batch stats: ${ds.lastBatchStats}")
    // bounded file counts: compaction folds every table, so dir counts
    // must stay far below the 300 batches written
    def dirCount(path: String): Int = {
      val f = new java.io.File(path)
      if (!f.exists()) 0
      else f.listFiles().count(d => d.isDirectory && d.getName.startsWith("batch="))
    }
    assert(dirCount(s"$work/corpus") < 40,
      s"corpus dirs unbounded: ${dirCount(s"$work/corpus")}")
    assert(dirCount(s"$work/corpus/_linedf") < 40,
      s"_linedf dirs unbounded: ${dirCount(s"$work/corpus/_linedf")}")
    assert(dirCount(s"$work/corpus/_rawfps") < 40,
      s"_rawfps dirs unbounded: ${dirCount(s"$work/corpus/_rawfps")}")
    // bounded broadcast blocks: ~19 bloom generations were built (every
    // 16 batches plus every fold); the generation scheme unpersists each
    // predecessor, so at most the LIVE filter (plus one mid-release
    // straggler) may remain in the filter's size class (>= 1 MB — task
    // binaries are KBs, a 2M-item filter is ~2.3 MB)
    val bigBlocks = org.apache.spark.BroadcastProbe
      .largeBroadcastCount(spark.sparkContext, 1024 * 1024)
    assert(bigBlocks <= 2, s"bloom generations leaked: $bigBlocks blocks >= 1 MB")
    // flat per-batch latency: the late-run median must not drift away
    // from the early-run median (compaction/rebuild spikes are absorbed
    // by the median; 3x covers host noise, a linear drift would blow it)
    def median(xs: Array[Double]): Double = {
      val s = xs.sorted; s(s.length / 2)
    }
    val early = median(times.slice(20, 100))
    val late = median(times.slice(220, 300))
    assert(late < early * 3.0,
      f"per-batch latency drifted: early median $early%.3f s, late median $late%.3f s")
  }

  test("exists-cache TTL: expired series re-emitted once, absorbed by LWW view") {
    val (ingest, work) = freshIngest(ttlDays = 1)
    val lines = Seq("a.b.metric 1.0 1625478240", "c.d.metric 2.0 1625478240")

    // first sighting THREE days ago (receive-time version) -> udate outside TTL
    spoolLines(work, lines, nowSec - 3 * 86400)
    ingest.runAvailableNow()
    val rawAfterFirst = ingest.indexTable().count()
    val latestAfterFirst = ingest.indexLatest().count()
    assert(rawAfterFirst == latestAfterFirst && rawAfterFirst > 0)

    // same series again, now: outside the anti-join window -> re-emitted
    spoolLines(work, lines, nowSec)
    ingest.runAvailableNow()
    assert(ingest.indexTable().count() == 2 * rawAfterFirst,
      "series silent past the TTL must be re-emitted (reference cache-ttl semantics)")
    assert(ingest.indexLatest().count() == latestAfterFirst,
      "LWW read view must absorb the re-emission")

    // and again within the TTL: anti-join now dedups
    spoolLines(work, lines, nowSec)
    ingest.runAvailableNow()
    assert(ingest.indexTable().count() == 2 * rawAfterFirst,
      "series within the TTL window must be dedupped")
  }

  test("anti-join scan is partition-pruned to the TTL window") {
    val (ingest, work) = freshIngest(ttlDays = 1)
    // 5 distinct upload days, only the last within TTL
    for (d <- 4 to 0 by -1)
      spoolLines(work, Seq(s"day$d.metric 1.0 1625478240"), nowSec - d * 86400)
    ingest.runAvailableNow()

    val keys = StructType(Seq(StructField("date", DateType),
      StructField("level", LongType), StructField("path", StringType)))
    val bounded = ingest.existingKeysWithinTtl(s"$work/tables/index", keys)
    val scans = bounded.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty)
    val selected = scans.map(_.selectedPartitions.partitionCount).sum
    val total = spark.read.parquet(s"$work/tables/index")
      .select("udate").distinct().count()
    assert(total == 5, s"expected 5 distinct udate partitions, got $total")
    // day0 (today) and day1 (= today - ttl) remain; day2..day4 pruned
    assert(selected <= 2,
      s"anti-join read $selected partitions; must scan only the TTL window, not index history")
  }

  test("cache clear forces re-emission of the next batch (SIGUSR1 semantics)") {
    val (ingest, work) = freshIngest()
    val lines = Seq("x.y.z 1.0 1625478240")
    spoolLines(work, lines, nowSec)
    ingest.runAvailableNow()
    val raw = ingest.indexTable().count()

    spoolLines(work, lines, nowSec)
    ingest.clearExistsCache()
    ingest.runAvailableNow()
    assert(ingest.indexTable().count() == 2 * raw, "cleared cache must re-emit")
    assert(ingest.indexLatest().count() == raw)

    spoolLines(work, lines, nowSec)
    ingest.runAvailableNow()
    assert(ingest.indexTable().count() == 2 * raw, "clear applies to one batch only")
  }

  test("replayed batch is idempotent (per-batch dir overwrite)") {
    val (ingest, _) = freshIngest()
    val ss = spark; import ss.implicits._
    val batch = Seq(
      ("replay.a.b", 1.5, 1625478240L, nowSec),
      ("replay.c.d", 2.5, 1625478240L, nowSec))
      .toDF("path", "value", "time", "version")

    ingest.processBatch(batch, 7L)
    val pts = ingest.pointsTable().count()
    val idx = ingest.indexTable().count()
    // simulate a retry of the same epoch after a partial failure
    ingest.processBatch(batch, 7L)
    assert(ingest.pointsTable().count() == pts, "replay must not duplicate points")
    assert(ingest.indexTable().count() == idx)
    // a NEW batch with the same content only appends points (index dedups)
    ingest.processBatch(batch, 8L)
    assert(ingest.pointsTable().count() == 2 * pts)
    assert(ingest.indexTable().count() == idx)
  }

  private def pointsDf(rows: Seq[(String, Double, Long, Long)]) = {
    val ss = spark; import ss.implicits._
    rows.toDF("path", "value", "time", "version")
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toString).sorted.toSeq

  test("a failed batch commits nothing to the exists-cache; its replay writes every row") {
    val now = nowSec
    val first = pointsDf(Seq(("fault.a.b", 1.0, 1625478240L, now)))
    val batch = pointsDf(Seq(
      ("fault.a.b", 2.0, 1625478300L, now),
      ("fault.c.d", 3.0, 1625478300L, now),
      ("fault.tagged?dc=x&env=prod", 4.0, 1625478300L, now)))

    // a regular file where the tagged table's root should be makes the
    // tagged write of batch 7 throw after the index write succeeded
    def failBatch7(work: String, ingest: StreamingIngest): Unit = {
      ingest.processBatch(first, 6L) // seeds the caches; plain only, so no tagged dir
      val blocker = java.nio.file.Paths.get(s"$work/tables/tagged")
      Files.write(blocker, "not a dir".getBytes)
      intercept[Exception](ingest.processBatch(batch, 7L))
      assert(Files.exists(java.nio.file.Paths.get(s"$work/tables/index/batch=b7")),
        "the index write of the failed attempt ran")
      Files.delete(blocker)
    }
    def ofBatch(table: String, id: Long) =
      sortedRows(spark.read.parquet(table).filter(col("batch") === s"b$id").drop("batch"))

    val (ingest, work) = freshIngest()
    failBatch7(work, ingest)
    ingest.processBatch(batch, 7L)

    val (clean, cleanWork) = freshIngest()
    clean.processBatch(first, 6L)
    clean.processBatch(batch, 7L)
    val idx7 = ofBatch(s"$work/tables/index", 7L)
    assert(idx7.nonEmpty && idx7 == ofBatch(s"$cleanWork/tables/index", 7L),
      "the replay must write every index row of batch 7")
    val tagged7 = ofBatch(s"$work/tables/tagged", 7L)
    assert(tagged7.size == 3 && tagged7 == ofBatch(s"$cleanWork/tables/tagged", 7L),
      "the replay must write every tagged row of batch 7 (__name__, dc, env)")
    assert(sortedRows(ingest.indexLatest()) == sortedRows(clean.indexLatest()))
    assert(sortedRows(ingest.taggedLatest()) == sortedRows(clean.taggedLatest()))

    // a replay under the same id ignores the batch's own entries, so it
    // cannot tell whether the failed attempt committed; a later id can:
    // its rows are all still new only if the failed attempt committed none
    val (probe, probeWork) = freshIngest()
    failBatch7(probeWork, probe)
    probe.processBatch(batch, 8L)
    assert(ofBatch(s"$probeWork/tables/index", 8L) == idx7, "a failed batch must commit none of its index keys")
    assert(ofBatch(s"$probeWork/tables/tagged", 8L) == tagged7, "a failed batch must commit none of its tagged keys")
  }

  test("a restarted instance seeds its exists-caches once and re-emits nothing") {
    val now = nowSec
    val series = Seq(("restart.seed.a", 1.0, 1625478240L, now), ("restart.seed.b", 2.0, 1625478240L, now),
      ("restart.seed?host=h1", 3.0, 1625478240L, now))
    val work = Files.createTempDirectory("graft-seed").toString
    def ingest() = new StreamingIngest(spark, s"$work/spool", s"$work/tables", s"$work/ckpt")
    ingest().processBatch(pointsDf(series), 0L)
    val idx = ingest().indexTable().count()
    val tagged = ingest().taggedTable().count()
    assert(idx > 0 && tagged == 2)

    val restarted = ingest()
    restarted.processBatch(pointsDf(series.map { case (p, v, t, ver) => (p, v + 1, t + 60, ver) }), 1L)
    assert(restarted.indexTable().count() == idx, "restart must not re-emit index rows within the TTL")
    assert(restarted.taggedTable().count() == tagged, "restart must not re-emit tagged rows within the TTL")
    assert(!Files.exists(java.nio.file.Paths.get(s"$work/tables/index/batch=b1")) &&
      !Files.exists(java.nio.file.Paths.get(s"$work/tables/tagged/batch=b1")),
      "a batch with no new keys writes no expansion dir")
    assert(restarted.pointsTable().count() == 6)
  }

  test("exists-cache counters: first batch all new, identical second batch all hits") {
    val (ingest, _) = freshIngest()
    val now = nowSec
    val batch = pointsDf(Seq(("count.a.b", 1.0, 1625478240L, now), ("count.c?dc=x", 2.0, 1625478240L, now)))
    ingest.processBatch(batch, 0L)
    val first = ingest.existsCacheStats.toMap
    val idxKeys = ingest.indexTable().count()
    assert(first("index") == ExistsCache.Stats(idxKeys, idxKeys, idxKeys), s"batch 0: ${first("index")}")
    assert(first("tagged") == ExistsCache.Stats(2L, 2L, 2L), s"batch 0: ${first("tagged")}")
    ingest.processBatch(batch, 1L)
    val second = ingest.existsCacheStats.toMap
    assert(second("index") == ExistsCache.Stats(idxKeys, 0L, idxKeys), s"batch 1: ${second("index")}")
    assert(second("tagged") == ExistsCache.Stats(2L, 0L, 2L), s"batch 1: ${second("tagged")}")
  }

  test("hashed cache keys dedup like string keys (city64-equivalent option)") {
    val work = Files.createTempDirectory("graft-hashkeys").toString
    val ingest = new StreamingIngest(spark, s"$work/spool", s"$work/tables", s"$work/ckpt",
      hashCacheKeys = true)
    val lines = Seq("h.a.one 1.0 1625478240", "h.b.two 2.0 1625478240")
    spoolLines(work, lines, nowSec)
    ingest.runAvailableNow()
    val raw = ingest.indexTable().count()
    assert(raw > 0)
    spoolLines(work, lines :+ "h.c.three 3.0 1625478240", nowSec)
    ingest.runAvailableNow()
    // old series dedupped via the 8-byte hash join, new series still lands
    assert(ingest.indexTable().filter(col("path").startsWith("h.c.")).count() > 0)
    assert(ingest.indexTable().count() ==
      ingest.indexTable().select("date", "level", "path").distinct().count(),
      "no duplicate keys -> hash dedup worked")
  }

  test("chunk auto-interval backs off with unhandled chunk count") {
    val auto = graft.core.ChunkAutoInterval.parse("5:10s,20:60s", 1000L)
    assert(auto.intervalMsFor(0) == 1000L)
    assert(auto.intervalMsFor(4) == 1000L)
    assert(auto.intervalMsFor(5) == 10000L)
    assert(auto.intervalMsFor(19) == 10000L)
    assert(auto.intervalMsFor(500) == 60000L)
    // empty rule string = always default (the reference's "" config)
    assert(graft.core.ChunkAutoInterval.parse("", 700L).intervalMsFor(100) == 700L)

    // writer applies the backed-off interval: with 0 ready chunks a 50ms
    // interval rotates; pre-seed >=5 ready chunks and the 10s rule wins
    val dir = Files.createTempDirectory("graft-auto").toString
    for (i <- 0 until 6)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/spool-seed$i.tsv"), "x\t1\t1\t1\n")
    val w = new SpoolWriter(dir, chunkIntervalMs = 50,
      autoInterval = Some(graft.core.ChunkAutoInterval.parse("5:10s", 50L)))
    w.write("a.b", 1.0, 1L, 1L)
    assert(w.unhandledChunks() == 6)
    Thread.sleep(120)
    w.maybeRotate() // 6 unhandled >= 5 -> 10s interval -> no rotation yet
    assert(w.unhandledChunks() == 6, "rotation must back off under backlog")
    w.close()
  }

  test("streaming source cleans consumed spool chunks (cleanSource=delete)") {
    // Spark's file-source cleaner defers deletion to later batches, so a
    // continuous stream keeps the spool bounded with ~one-batch lag.
    val (ingest, work) = freshIngest()
    def ready() = new java.io.File(s"$work/spool").listFiles().count(_.getName.endsWith(".tsv"))
    spoolLines(work, Seq("clean.a.b 1.0 1625478240"), nowSec)
    ingest.runAvailableNow()
    spoolLines(work, Seq("clean.c.d 2.0 1625478240"), nowSec)
    ingest.runAvailableNow()
    spoolLines(work, Seq("clean.e.f 3.0 1625478240"), nowSec)
    ingest.runAvailableNow()
    val deadline = System.currentTimeMillis() + 15000
    while (ready() > 1 && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(ready() <= 1, "consumed chunks must be deleted (spool growth is unbounded otherwise)")
    assert(ingest.pointsTable().count() == 3)
  }

  test("live rollup: watermarked windows finalize and append once") {
    val work = Files.createTempDirectory("graft-live").toString
    val ingest = new StreamingIngest(spark, s"$work/spool", s"$work/tables", s"$work/ckpt",
      cleanSpool = false)
    val t0 = 1625478000L // aligned minute
    // batch 1: two samples in minute 0, one in minute 1
    spoolLines(work, Seq(
      s"live.a 1.0 $t0", s"live.a 3.0 ${t0 + 30}", s"live.a 5.0 ${t0 + 60}"), nowSec)
    var q = ingest.startLiveRollup(precisionSec = 60, watermarkDelaySec = 10, availableNow = true)
    q.awaitTermination()
    // watermark starts at 0 for the first batch -> nothing finalized yet
    assert(ingest.liveRollupTable(60).count() == 0)

    // batch 2: event time advances past minute 1 + delay -> minutes 0,1 close
    spoolLines(work, Seq(s"live.a 7.0 ${t0 + 200}"), nowSec)
    q = ingest.startLiveRollup(60, 10, availableNow = true)
    q.awaitTermination()
    spoolLines(work, Seq(s"live.a 9.0 ${t0 + 400}"), nowSec)
    q = ingest.startLiveRollup(60, 10, availableNow = true)
    q.awaitTermination()

    val rows = ingest.liveRollupTable(60)
      .select("path", "bucket", "avg_value", "sum_value", "points")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .sortBy(_._2)
    assert(rows.toSeq == Seq(
      ("live.a", t0, 2.0, 4.0, 2L),         // avg(1,3), sum 4
      ("live.a", t0 + 60, 5.0, 5.0, 1L),
      ("live.a", t0 + 180, 7.0, 7.0, 1L)),  // closed once watermark passed t0+250
      s"finalized minute buckets expected, got ${rows.toSeq}")
  }

  test("rollup compaction rewrites aged month partitions (GraphiteMergeTree merge)") {
    import graft.core.Rollup
    val (ingest, work) = freshIngest()
    val ss = spark; import ss.implicits._
    // three samples of an avg path + two of a .sum path in Jan 2021
    // (aged), one recent sample
    val old1 = 1609459200L // 2021-01-01 00:00:00
    val now = nowSec // pin: nowSec is a def
    val batch = Seq(
      ("aged.cpu.value", 1.0, old1, now),
      ("aged.cpu.value", 3.0, old1 + 60, now),
      ("aged.cpu.value", 5.0, old1 + 7200, now),
      ("aged.req.sum", 2.0, old1, now),
      ("aged.req.sum", 7.0, old1 + 60, now),
      ("fresh.cpu.value", 9.0, now, now))
      .toDF("path", "value", "time", "version")
    ingest.processBatch(batch, 0L)
    assert(ingest.pointsTable().count() == 6)

    val cfg = Rollup.Config(
      rules = Seq(Rollup.Rule("""\.sum$""".r, Rollup.Sum, Seq(Rollup.Retention(0, 3600)))),
      default = Rollup.Rule("""^""".r, Rollup.Avg, Seq(Rollup.Retention(0, 3600))))
    val rolled = TableCompactor.rollupPoints(spark, s"$work/tables/points", cfg, now,
      olderThanSec = 30L * 86400)
    assert(rolled == 1, "exactly the 202101 partition is aged")

    val rows = ingest.pointsTable()
      .select("path", "time", "value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(rows == Set(
      ("aged.cpu.value", old1, 2.0),        // avg(1,3) in hour bucket 0
      ("aged.cpu.value", old1 + 7200, 5.0), // own bucket
      ("aged.req.sum", old1, 9.0),          // sum(2,7)
      ("fresh.cpu.value", now, 9.0)))       // untouched

    // idempotent: nothing aged remains unrolled
    assert(TableCompactor.rollupPoints(spark, s"$work/tables/points", cfg, now, 30L * 86400) == 0)

    // Weight preservation: the rolled avg row persists points=2 for the
    // hour-0 bucket (avg(1,3)=2.0). A LATE raw row (8.0) lands in the
    // same bucket; the weighted read view + rollup() must yield the true
    // mean (1+3+8)/3 = 4.0 — NOT avg(avg)=(2.0+8.0)/2 = 5.0.
    val late = Seq(("aged.cpu.value", 8.0, old1 + 120, now))
      .toDF("path", "value", "time", "version")
    ingest.processBatch(late, 1L)
    val weighted = ingest.pointsTableWeighted()
    assert(weighted.filter($"path" === "aged.cpu.value" && $"time" === old1)
      .select("points").head().getLong(0) == 2L, "rolled row must persist its sample count")
    val reRolled = graft.operators.GraphiteOps.rollup(weighted, cfg, now)
      .filter($"path" === "aged.cpu.value" && $"time" === old1)
      .select("value", "points").head()
    assert(reRolled.getDouble(0) == 4.0,
      s"mixed rolled+late bucket must weight by sample count, got ${reRolled.getDouble(0)}")
    assert(reRolled.getLong(1) == 3L)
  }

  test("streaming listener feeds engine metrics back into the spool") {
    val (ingest, work) = freshIngest()
    val spool = new SpoolWriter(s"$work/spool", chunkIntervalMs = 100)
    val listener = new IngestMetricsListener(spool, clock = () => 1625478999L,
      cacheStats = () => ingest.existsCacheStats)
    spark.streams.addListener(listener)
    try {
      spoolLines(work, Seq("listen.a.b 1.0 1625478240"), nowSec)
      ingest.runAvailableNow()
      // the listener emits 3 points plus 2 per exists-cache (index,
      // tagged) per progress event, asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (spool.pointsWritten.get() < 7 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      spool.rotate()
      val files = java.nio.file.Files.list(java.nio.file.Paths.get(s"$work/spool"))
        .toArray.map(_.toString).filter(_.endsWith(".tsv"))
      val content = files.map(f => java.nio.file.Files.readString(java.nio.file.Paths.get(f))).mkString
      assert(content.contains("carbon.agents.graft.stream.inputRows"))
      assert(content.contains("carbon.agents.graft.stream.batchDurationMs"))
      assert(content.contains("carbon.agents.graft.stream.index.cacheNew\t"))
      assert(content.contains("carbon.agents.graft.stream.tagged.cacheEntries\t0.0\t"))
    } finally {
      spark.streams.removeListener(listener)
      spool.close()
    }
  }

  test("compaction bounds batch-dir count and preserves table contents") {
    val (ingest, work) = freshIngest(maxFiles = Some(1))
    // 6 chunks -> 6 micro-batches -> 6 batch dirs per table
    for (i <- 0 until 6)
      spoolLines(work, Seq(s"compact.m$i.v 1.0 ${1625478240L + i}", "compact.shared.v 2.0 1625478240"), nowSec)
    ingest.runAvailableNow()

    def dirCount(t: String) = {
      val f = new java.io.File(s"$work/tables/$t")
      f.listFiles().count(d => d.isDirectory && d.getName.startsWith("batch="))
    }
    assert(dirCount("points") == 6)

    val ptsBefore = ingest.pointsTable().orderBy("path", "time").collect().toSeq
    val idxBefore = ingest.indexLatest().select("date", "level", "path")
      .orderBy("date", "level", "path").collect().toSeq

    val folded = TableCompactor.compactAll(spark, s"$work/tables")
    assert(folded("points") == 6 && folded("index") == 6)
    assert(dirCount("points") == 1 && dirCount("index") == 1)

    assert(ingest.pointsTable().orderBy("path", "time").collect().toSeq == ptsBefore)
    assert(ingest.indexLatest().select("date", "level", "path")
      .orderBy("date", "level", "path").collect().toSeq == idxBefore)
    // raw == latest after LWW compaction
    assert(ingest.indexTable().count() == idxBefore.size)

    // compaction is idempotent / no-op on a single dir
    assert(TableCompactor.compactAll(spark, s"$work/tables").values.sum == 0)
  }

  test("a failing online compaction does not kill the ingest stream") {
    import java.nio.file.{Files => JFiles, Paths}
    val work = Files.createTempDirectory("graft-compact-survive").toString
    def ingest() = new StreamingIngest(spark, s"$work/spool", s"$work/tables", s"$work/ckpt",
      maxFilesPerTrigger = Some(1), compactEveryBatches = Some(3))

    spoolLines(work, Seq("survive.m0.v 1.0 1625478240"), nowSec)
    ingest().runAvailableNow()

    // poison the committed batch dir (inside the month leaf, so only
    // parquet READS fail, not partition discovery): hasDataFiles sees a
    // data file, the fold's read throws — the stream must log and keep
    // ingesting
    val poison = Paths.get(s"$work/tables/points/batch=b0/month=202107/part-garbage.parquet")
    JFiles.write(poison, "not parquet".getBytes)
    for (i <- 1 to 4)
      spoolLines(work, Seq(s"survive.m$i.v 1.0 ${1625478240L + i}"), nowSec)
    ingest().runAvailableNow() // batches 1..4; compaction fires at batch 3 and fails

    // the unreadable dir was NOT deleted, and every batch kept flowing:
    // all five b-dirs exist (the failed fold removed none, ate none)
    assert(JFiles.exists(poison))
    val bDirs = new java.io.File(s"$work/tables/points").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=b")).map(_.getName).sorted
    assert(bDirs.toSeq == (0 to 4).map(i => s"batch=b$i"),
      s"stream must keep committing batches past a failed fold, got ${bDirs.toSeq}")
    // with the poison removed, the data underneath is intact
    JFiles.delete(poison)
    val paths = ingest().pointsTable().select("path").collect().map(_.getString(0)).sorted
    assert(paths.toSeq == (0 to 4).map(i => s"survive.m$i.v"),
      s"all points must survive a failed compaction, got ${paths.toSeq}")
  }

  test("compaction reaps verified-empty dirs but never deletes on read failure") {
    import java.nio.file.{Files => JFiles, Paths}
    val root = JFiles.createTempDirectory("graft-compact-safety").toString

    // two batch dirs holding only _SUCCESS markers (a batch whose rows
    // were all anti-joined away): emptiness is decided by explicit file
    // listing, so both are reaped without a read
    for (b <- Seq("b1", "b2")) {
      JFiles.createDirectories(Paths.get(s"$root/batch=$b"))
      JFiles.write(Paths.get(s"$root/batch=$b/_SUCCESS"), Array.emptyByteArray)
    }
    assert(TableCompactor.compactLww(spark, root, Seq("date", "level", "path"), Nil) == 2)
    assert(!new java.io.File(s"$root/batch=b1").exists())
    assert(!new java.io.File(s"$root/batch=b2").exists())

    // a dir whose data file cannot be read as parquet must fail the fold
    // loudly — the old scheme (AnalysisException => "all empty") would
    // have deleted committed data here
    val ss = spark; import ss.implicits._
    Seq((java.sql.Date.valueOf("2021-07-05"), 1L, "a.b", 5L))
      .toDF("date", "level", "path", "version")
      .write.parquet(s"$root/batch=b3")
    JFiles.createDirectories(Paths.get(s"$root/batch=b4"))
    JFiles.write(Paths.get(s"$root/batch=b4/part-garbage.parquet"),
      "this is not parquet".getBytes)
    intercept[Exception] {
      TableCompactor.compactLww(spark, root, Seq("date", "level", "path"), Nil)
    }
    assert(new java.io.File(s"$root/batch=b3").exists(), "committed dir must survive a failed fold")
    assert(new java.io.File(s"$root/batch=b4").exists(), "unreadable dir must survive, not be deleted")
  }

  test("restart from checkpoint resumes exactly-once (no loss, no double-count)") {
    // Phase 1: ingest a first tranche, stop. Phase 2: NEW StreamingIngest
    // instance over the same checkpoint ingests a second tranche. The
    // points table must hold every point exactly once — the checkpoint
    // fences consumed chunks, per-batch dirs fence replays — and the
    // index LWW view must stay duplicate-free.
    val work = Files.createTempDirectory("graft-restart").toString
    def ingest() = new StreamingIngest(spark, s"$work/spool", s"$work/tables", s"$work/ckpt",
      maxFilesPerTrigger = Some(1), compactEveryBatches = Some(3))
    for (i <- 0 until 5)
      spoolLines(work, Seq(s"restart.a$i.v ${i}.0 ${1625478240L + i}"), nowSec)
    ingest().runAvailableNow()

    for (i <- 5 until 9)
      spoolLines(work, Seq(s"restart.a$i.v ${i}.0 ${1625478240L + i}"), nowSec)
    ingest().runAvailableNow() // fresh instance, same checkpoint

    val got = ingest().pointsTable().select("path", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).sorted.toSeq
    assert(got == (0 until 9).map(i => (s"restart.a$i.v", i.toDouble)),
      s"every point exactly once across the restart, got $got")
    val latest = ingest().indexLatest()
    assert(latest.count() == ingest().indexTable().count() ||
      ingest().indexTable().count() >= latest.count()) // raw >= LWW, no key lost
    assert(latest.filter(col("level") === 3 && !col("path").endsWith("."))
      .count() == 9, "all 9 series in the LWW index view")
  }

  test("online compaction inside the stream bounds dir count with no quiesce") {
    // Twin runs over the SAME 40-chunk input, one micro-batch per chunk:
    // one with online compaction folding every 5 batches (tier=4 c-fold),
    // one without. Contents must be identical; dir count must be bounded
    // by pending-batches + tier, not by total batch count. No quiesce
    // anywhere: the folds run inside processBatch while the stream runs.
    val everyN = 5
    val lines = (0 until 40).map(i =>
      Seq(s"oc.m${i % 7}.v $i.0 ${1625478240L + i}", "oc.shared.v 2.0 1625478240"))

    def run(compact: Boolean): (StreamingIngest, String) = {
      val work = Files.createTempDirectory("graft-online").toString
      val ingest = new StreamingIngest(spark, s"$work/spool", s"$work/tables", s"$work/ckpt",
        maxFilesPerTrigger = Some(1),
        compactEveryBatches = if (compact) Some(everyN) else None)
      lines.foreach(batch => spoolLines(work, batch, nowSec))
      ingest.runAvailableNow()
      (ingest, work)
    }
    // the online path uses tier=8 by default via processBatch; drive the
    // tiered c-fold harder by folding manually at tier=4 as well below
    val (compacted, cWork) = run(compact = true)
    val (plain, _) = run(compact = false)

    def dirNames(t: String): Seq[String] = {
      val f = new java.io.File(s"$cWork/tables/$t")
      f.listFiles().toSeq.filter(_.isDirectory).map(_.getName).filter(_.startsWith("batch="))
    }
    // 40 micro-batches; folds at batch 5,10,...,35 leave at most everyN
    // uncompacted b-dirs (+ the in-flight one) and tier c-dirs
    for (t <- Seq("points", "points_reverse", "index")) {
      val names = dirNames(t)
      val bCount = names.count(_.startsWith("batch=b"))
      val cCount = names.count(_.startsWith("batch=c"))
      assert(bCount <= everyN + 1, s"$t: $bCount uncompacted batch dirs, fold is not keeping up")
      assert(cCount <= 8, s"$t: $cCount c-dirs, size-tiered fold is not bounding them")
      assert(names.size < 40, s"$t: dir count must not track batch count")
    }
    // no trash/tmp residue
    assert(new java.io.File(s"$cWork/tables/points").listFiles()
      .forall(f => !f.getName.startsWith(".trash") && !f.getName.startsWith(".compact")))

    // contents byte-identical to the uncompacted twin
    assert(compacted.pointsTable().orderBy("path", "time").collect().toSeq ==
      plain.pointsTable().orderBy("path", "time").collect().toSeq)
    assert(compacted.pointsReverseTable().orderBy("path", "time").collect().toSeq ==
      plain.pointsReverseTable().orderBy("path", "time").collect().toSeq)
    assert(compacted.indexLatest().select("date", "level", "path")
      .orderBy("date", "level", "path").collect().toSeq ==
      plain.indexLatest().select("date", "level", "path")
        .orderBy("date", "level", "path").collect().toSeq)
    assert(compacted.pointsTable().count() == 80)
  }
}
