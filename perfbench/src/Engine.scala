package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.sparkproject.connect.grpc.{CallOptions, ManagedChannelBuilder}
import org.sparkproject.connect.grpc.stub.ClientCalls

import graft.core.Rollup
import graft.operators.GraphiteTables
import graft.sources.{CarbonPayload, GrpcStoreServer, TcpLineServer}
import graft.streaming.{SpoolWriter, StreamingIngest}

import Inputs._

/**
 * The engine process of the benchmark: runs one workload through the
 * program's public classes, checks every output against [[Inputs]], and
 * prints the operation counts and then the result as the last line.
 *
 * Usage: Engine --workload backfill|live --seed N --seconds S --trace 0|1
 *   --work DIR --generator gen_live.py [--selftest]
 */
object Engine {

  // Program parameters the workloads fix (README "Inputs").
  val Cpus = 2                     // local[2]: the rest of the 4 vCPUs runs the JIT, GC, clients, generator
  val RoundsPerCycle = 4           // backfill: a cycle sends four rounds, then drains them
  val MaxFilesPerTrigger = 1       // backfill: a cycle's one spool chunk is one drain batch
  val BackfillCompactEvery = 1     // online compaction cadence, in batches: every batch after the first
  val LiveTriggerMs = 1000L
  val LiveChunkMs = 1000L
  val LiveCompactEvery = 2
  val WarmUps = 2

  /** Backfill cycles of a run of `seconds`: a quarter of the seconds, at least three. */
  def cycles(seconds: Int): Int = math.max(3, seconds / 4)

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, generator: String, selftest: Boolean)

  /** One send-then-drain cycle over the points with seq in [lo, hi):
    * first send, last ack, and the drain's start and end (live is one
    * cycle: the generator's start and end, and the last commit). */
  final case class Cycle(lo: Int, hi: Int, firstMs: Long, sendEndMs: Long, drainStartMs: Long, drainEndMs: Long)

  /** What an ingest phase leaves for the reads, the checks and the metrics.
    * `chunkPoints` (backfill) maps each spool chunk's file name to the
    * points it holds; live leaves it empty and relies on send order. */
  final case class Ingested(input: Input, dir: String, ingest: StreamingIngest, queryId: String,
                            handoverMs: Array[Long], cycles: Seq[Cycle], sourceWaitMs: Seq[Double],
                            failedPoints: Long, unhandledMax: Int, chunkPoints: Map[String, Seq[Int]]) {
    /** The batches each cycle committed: those that ended inside its window. */
    def batchesOf(c: Cycle, batches: Seq[Batch]): Seq[Batch] =
      batches.filter(b => b.endMs <= c.drainEndMs && cycles.takeWhile(_ != c).forall(_.drainEndMs < b.endMs))
  }

  final case class ReadCall(read: Read, startMs: Long, endMs: Long, ms: Double, rows: Seq[String], failed: Boolean)

  def main(args: Array[String]): Unit = {
    // exit explicitly: a program thread left running must not hold the JVM
    val ok = try run(args) catch { case e: Throwable => e.printStackTrace(); false }
    sys.exit(if (ok) 0 else 1)
  }

  /** Runs one workload; false when the self-test finds a check dead. */
  def run(args: Array[String]): Boolean = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def arg(n: String) = args.sliding(2).collectFirst { case Array(`n`, v) => v }
      .getOrElse(sys.error(s"missing $n"))
    val o = Opts(arg("--workload"), arg("--seed").toLong, arg("--seconds").toInt, arg("--trace") == "1",
      Paths.get(arg("--work")), arg("--generator"), args.contains("--selftest"))
    require(Set("backfill", "live")(o.workload), s"unknown workload ${o.workload}")

    val cpus = math.min(Cpus, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local") // scratch stays in the checkout
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val streams = new StreamLog
    spark.streams.addListener(streams)
    val trace = if (o.trace) Some(new SparkTrace) else None
    trace.foreach(spark.sparkContext.addSparkListener)

    try {
      val input =
        if (o.workload == "backfill") backfill(o.seed, RoundsPerCycle * (if (o.selftest) 1 else cycles(o.seconds)))
        else live(o.seed, LiveRate * o.seconds / (LiveHosts * Plugins * Values + LiveTagged))
      // set-up: session start once, then warm-up cycles on throwaway data
      // (a one-round backfill and two read rounds); their median stands for
      // the repeatable part of set-up
      val beforeWarm = System.currentTimeMillis()
      val warm = (0 until WarmUps).map { i =>
        val t0 = System.nanoTime()
        val w = backfillIngest(spark, backfill(o.seed + 1000 + i, 1), s"${o.work}/warm$i", sample = false)
        runReads(spark, w.dir, w.input.reads.take(2 * 6))
        (System.nanoTime() - t0) / 1e9
      }
      val setupS = (beforeWarm - jvmStart) / 1000.0 + median(warm)

      val gc0 = gcMs()
      val (cpu0, stat0, jit0) = (cpuS(), cpuStat(), jitS())
      val ingestStart = System.currentTimeMillis()
      val ing =
        if (o.workload == "backfill") backfillIngest(spark, input, s"${o.work}/run", sample = o.trace)
        else liveIngest(spark, streams, input, s"${o.work}/run", o.generator, sample = o.trace)
      org.apache.spark.BusSync.drain(spark.sparkContext)
      val batches = streams.of(ing.queryId)
      val tableBytes = Seq("points", "points_reverse", "index", "tagged")
        .map(t => dirBytes(Paths.get(ing.dir, "tables", t))).sum
      val (cpu1, gcIngest, jit1) = (cpuS(), gcMs() - gc0, jitS())
      // what the program keeps live once ingest, and then the reads, are
      // done; the forced collections fall outside every timed phase, and
      // the reads start on a collected heap
      val heapIngestMb = retainedHeapMb()
      val (cpu1b, gc1, jit1b) = (cpuS(), gcMs(), jitS())
      val readStart = System.currentTimeMillis()
      val calls = runReads(spark, ing.dir, input.reads)
      val readEnd = System.currentTimeMillis()
      val (cpu2, stat2, jit2) = (cpuS(), cpuStat(), jitS())
      val gcS = (gcIngest + gcMs() - gc1) / 1000.0
      val heapMb = math.max(heapIngestMb, retainedHeapMb())
      org.apache.spark.BusSync.drain(spark.sparkContext)

      // ---- checks against the inputs ----
      val acked = input.points
      val actual = Actual(spark, ing)
      val expected = Expected(input, calls.map(_.read))
      val errors = checks(actual, expected, calls)
      val attribution = attributionError(ing, batches)
      val allErrors = errors ++ attribution.toSeq
      val checkEnd = System.currentTimeMillis()
      allErrors.foreach(e => System.err.println(s"[perfbench] CHECK FAILED: $e"))

      if (o.selftest) return selftest(actual, expected, calls, errors)

      // ---- end-to-end metrics ----
      val fresh = freshness(batches, ing).toSeq.filterNot(_.isNaN)
      // backfill: acked points over the cycles' time, each cycle from its
      // first call to its last commit; live: the stream's own drain rate,
      // the points of every batch but the first over the first to the
      // last commit (from the first send it would also count the last
      // batch's latency)
      val pointsPerS =
        if (o.workload == "backfill")
          acked.size / (ing.cycles.map(c => ing.batchesOf(c, batches).map(_.endMs).max - c.firstMs).sum / 1000.0)
        else {
          require(batches.size >= 2, s"live committed in ${batches.size} batch(es); its drain rate needs two")
          batches.tail.map(_.rows).sum / ((batches.last.endMs - batches.head.endMs) / 1000.0)
        }
      val kinds = calls.groupBy(_.read.kind).map { case (k, cs) => k -> cs.map(_.ms) }
      val e2e = Seq(
        ("setup_s", setupS, "s"),
        ("points_per_s", pointsPerS, "points/s"),
        ("bytes_per_point", tableBytes.toDouble / acked.size, "B/point"),
        ("freshness_p50_ms", median(fresh), "ms"),
        ("find_p50_ms", median(kinds("find")), "ms"),
        ("render_p50_ms", median(kinds("render")), "ms"),
        ("tags_p50_ms", median(kinds("tags")), "ms"),
        ("queries_per_s", calls.size / ((readEnd - readStart) / 1000.0), "queries/s"))

      val failedReads = calls.count(_.failed)
      val ops = Map(
        "points" -> Map("attempted" -> acked.size, "failed" -> ing.failedPoints),
        "read_calls" -> Map("attempted" -> calls.size, "failed" -> failedReads))
      val info = new java.util.LinkedHashMap[String, Any]()
      info.put("workload", o.workload); info.put("seed", o.seed); info.put("cpus", cpus)
      info.put("ops", ops.map { case (k, v) => k -> v.asJava }.asJava)
      info.put("batches", batches.size); info.put("cycles", ing.cycles.size)
      info.put("batch_ms", batches.map(_.durationMs).asJava); info.put("warm_s", warm.asJava)
      info.put("freshness_p95_ms", pct(fresh, 95))
      info.put("series", input.series.size); info.put("points", acked.size); info.put("rounds", input.rounds)
      info.put("phases_s", Map("setup" -> setupS, "ingest" -> (readStart - ingestStart) / 1000.0,
        "reads" -> (readEnd - readStart) / 1000.0, "checks" -> (checkEnd - readEnd) / 1000.0,
        "total" -> (checkEnd - jvmStart) / 1000.0).asJava)
      info.put("cpu_s", Map("ingest" -> (cpu1 - cpu0), "reads" -> (cpu2 - cpu1b)).asJava)
      // compiler threads' time, which competes with the program for the vCPUs
      info.put("jit_s", Map("ingest" -> (jit1 - jit0), "reads" -> (jit2 - jit1b)).asJava)
      info.put("vmhwm_mb", vmHwmMb())
      // the host's share of this VM's CPU time taken by other guests
      info.put("steal_share", (stat2(7) - stat0(7)).toDouble / (stat2.sum - stat0.sum))
      info.put("source_wait_ms_p50", median(ing.sourceWaitMs)); info.put("source_wait_ms_p99", pct(ing.sourceWaitMs, 99))
      println(json(info))

      def asJson(ms: Seq[(String, Double, String)]) = {
        val m = new java.util.LinkedHashMap[String, Any]()
        ms.foreach { case (k, v, u) => m.put(k, Map("value" -> v, "unit" -> u).asJava) }
        m
      }
      // the traced run also keeps its end-to-end figures, so the tracing
      // overhead is the traced minus the untraced value
      val layer = trace.map { tr =>
        val m = Layers(tr, batches, ing, calls, gcS, heapMb).metrics
        val f = new java.util.LinkedHashMap[String, Any]()
        f.put("per_layer", asJson(m)); f.put("end_to_end", asJson(e2e))
        Files.writeString(o.work.resolveSibling(s"trace-${o.workload}.json"), json(f) + "\n")
        m
      }
      val metrics = asJson(layer.getOrElse(e2e))
      val result = new java.util.LinkedHashMap[String, Any]()
      result.put("correct", allErrors.isEmpty)
      result.put("attempted", acked.size + calls.size)
      result.put("failed", ing.failedPoints + failedReads)
      result.put("metrics", metrics)
      println(json(result))
      true
    } finally spark.stop()
  }

  // ---------------- workloads ----------------

  private def newIngest(spark: SparkSession, dir: String, maxFiles: Option[Int], compactEvery: Int) =
    new StreamingIngest(spark, s"$dir/spool", s"$dir/tables", s"$dir/ckpt",
      maxFilesPerTrigger = maxFiles, compactEveryBatches = Some(compactEvery))

  /** backfill: the history is replayed in cycles of [[RoundsPerCycle]]
    * rounds. In each, [[Inputs.Connections]] closed-loop clients, each on
    * its own connection, send the cycle's StoreSync calls over gRPC (each
    * acked after the durable flush); the spool then rotates, so a cycle is
    * one chunk, and `runAvailableNow` drains it in one batch. Before each
    * drain the new chunk is read back, so each point can be attributed to
    * the drain batch that read its chunk. */
  def backfillIngest(spark: SparkSession, input: Input, dir: String, sample: Boolean): Ingested = {
    val spool = new SpoolWriter(s"$dir/spool", chunkMaxBytes = 0, stripes = 1) // rotates only when told
    val srv = new GrpcStoreServer(spool, 0)
    val sampler = if (sample) Some(new ChunkSampler(spool)) else None
    val ack = new Array[Long](input.points.size)
    val rtts = Array.fill(Connections)(Vector.newBuilder[Double])
    val failed = new java.util.concurrent.atomic.AtomicLong
    val payloads = input.calls.map { c =>
      c -> CarbonPayload.encode(c.points.map(p => CarbonPayload.Metric(p.wire, Seq(CarbonPayload.Point(p.time, p.value)))))
    }
    val channels = (0 until Connections).map(_ =>
      ManagedChannelBuilder.forAddress("127.0.0.1", srv.boundPort).usePlaintext().build())
    def send(cycle: Seq[(Call, Array[Byte])]): Unit = {
      val clients = (0 until Connections).map { conn =>
        new Thread(() => for ((c, payload) <- cycle if c.conn == conn) {
          val c0 = System.nanoTime()
          try ClientCalls.blockingUnaryCall(channels(conn), GrpcStoreServer.StoreSyncMethod, CallOptions.DEFAULT, payload)
          catch { case NonFatal(e) => failed.addAndGet(c.points.size); System.err.println(s"[perfbench] StoreSync failed: $e") }
          rtts(conn) += (System.nanoTime() - c0) / 1e6
          val now = System.currentTimeMillis()
          c.points.foreach(p => ack(p.seq) = now)
        }, s"perfbench-client-$conn")
      }
      clients.foreach(_.start()); clients.foreach(_.join())
      spool.rotate()
    }
    val ingest = newIngest(spark, dir, Some(MaxFilesPerTrigger), BackfillCompactEvery)
    val chunks = Map.newBuilder[String, Seq[Int]]
    var seen = Set.empty[String]
    val cycles = try payloads.groupBy(_._1.round / RoundsPerCycle).toSeq.sortBy(_._1).map {
      case (_, cycle) =>
        val seqs = cycle.flatMap(_._1.points.map(_.seq))
        val t0 = System.currentTimeMillis()
        send(cycle)
        val t1 = System.currentTimeMillis()
        val fresh = spoolContents(s"$dir/spool", input.points) -- seen
        seen ++= fresh.keySet; chunks ++= fresh
        val d0 = System.currentTimeMillis()
        ingest.runAvailableNow()
        Cycle(seqs.min, seqs.max + 1, t0, t1, d0, System.currentTimeMillis())
    } finally {
      channels.foreach(_.shutdownNow())
      srv.close(); spool.close()
    }
    val unhandled = sampler.map(_.stop()).getOrElse(0)
    Ingested(input, dir, ingest, queryId(dir), ack, cycles, rtts.toSeq.flatMap(_.result()), failed.get,
      unhandled, chunks.result())
  }

  /** File name of each completed spool chunk -> the seqs of the points in
    * it, matched by (path, time), which is unique within a backfill. */
  def spoolContents(spool: String, points: Seq[Point]): Map[String, Seq[Int]] = {
    val seqOf = points.map(p => (p.path, p.time) -> p.seq).toMap
    Files.list(Paths.get(spool)).iterator().asScala.filter(_.getFileName.toString.endsWith(".tsv")).map { f =>
      f.getFileName.toString -> Files.readAllLines(f).asScala.toSeq.map { l =>
        val c = l.split('\t'); seqOf.getOrElse((c(0), c(2).toLong), -1)
      }
    }.toMap
  }

  /** live: a continuous 1 s-trigger stream fed over plaintext TCP by an
    * open-loop generator process sending at [[Inputs.LiveRate]]. */
  def liveIngest(spark: SparkSession, streams: StreamLog, input: Input, dir: String,
                 generator: String, sample: Boolean): Ingested = {
    Files.createDirectories(Paths.get(dir))
    val lines = Paths.get(dir, "lines.txt")
    Files.write(lines, input.points.map(p => s"${p.wire} ${p.value} ${p.time}").asJava)
    val spool = new SpoolWriter(s"$dir/spool", chunkIntervalMs = LiveChunkMs, stripes = 1)
    val srv = new TcpLineServer(spool, 0)
    val rotator = java.util.concurrent.Executors.newSingleThreadScheduledExecutor()
    rotator.scheduleAtFixedRate(() => spool.maybeRotate(), 50, 50, java.util.concurrent.TimeUnit.MILLISECONDS)
    val ingest = newIngest(spark, dir, None, LiveCompactEvery)
    val q = ingest.start(LiveTriggerMs)
    val sampler = if (sample) Some(new ChunkSampler(spool)) else None
    val gen = new ProcessBuilder("python3", generator, "--port", srv.boundPort.toString,
      "--lines", lines.toString, "--rate", LiveRate.toString)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val report = try {
      val out = new String(gen.getInputStream.readAllBytes(), "UTF-8")
      require(gen.waitFor() == 0, s"generator failed: $out")
      new ObjectMapper().readTree(out.trim.linesIterator.toSeq.last)
    } finally { gen.destroy(); gen.waitFor() }
    val sent = report.get("sent").asLong
    val t0 = report.get("t0_ms").asDouble
    // every sent point must be committed; the last chunk rotates within
    // one chunk interval, the batch holding it within one trigger more
    val deadline = System.currentTimeMillis() + 60000
    while (streams.rowsOf(q.id.toString) < sent && System.currentTimeMillis() < deadline && q.isActive)
      Thread.sleep(20)
    q.stop()
    val stopped = System.currentTimeMillis()
    rotator.shutdown(); rotator.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
    srv.close(); spool.close()
    val unhandled = sampler.map(_.stop()).getOrElse(0)
    val due = Array.tabulate(input.points.size)(i => math.round(t0 + i * 1000.0 / LiveRate))
    val late = report.get("late_ms").elements().asScala.map(_.asDouble).toVector
    val end = report.get("end_ms").asLong
    Ingested(input, dir, ingest, q.id.toString, due, Seq(Cycle(0, input.points.size, t0.toLong, end, end, stopped)),
      late, input.points.size - streams.rowsOf(q.id.toString), unhandled, Map.empty)
  }

  /** Times each read call with its result collected, one caller. */
  def runReads(spark: SparkSession, dir: String, reads: Seq[Read]): Seq[ReadCall] = {
    val t = new GraphiteTables(spark, s"$dir/tables")
    val cfg = Rollup.Config(
      rules = Seq(Rollup.Rule("""\.stuff0\.""".r, Rollup.Max, Seq(Rollup.Retention(0, RenderPrecision)))),
      default = Rollup.Rule("^".r, Rollup.Avg, Seq(Rollup.Retention(0, RenderPrecision))))
    def date(d: Int) = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d.toLong))
    reads.map { r =>
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val rows = try Some(r match {
        case Find(g, d0, d1, _) => t.find(g, date(d0), date(d1)).collect().map(_.getString(0)).toSeq
        case Render(g, from, until) =>
          t.seriesRangeRollup(g, from, until, cfg, until).collect()
            .map(x => renderRow(x.getString(0), x.getLong(1), x.getDouble(2), x.getLong(3))).toSeq
        case ByTag(k, v) => t.seriesByTag(k, v).collect().map(_.getString(0)).toSeq
        case TagValues(k) => t.tagValues(k).collect().map(_.getString(0)).toSeq
      }) catch { case NonFatal(e) => System.err.println(s"[perfbench] read $r failed: $e"); None }
      val ms = (System.nanoTime() - t0) / 1e6
      ReadCall(r, start, System.currentTimeMillis(), ms, rows.getOrElse(Nil).sorted, rows.isEmpty)
    }
  }

  // ---------------- checks ----------------

  final case class Actual(points: Map[String, PathAgg], reverse: Map[String, PathAgg],
                          index: Set[(Int, Long, String)], tagged: Set[(Int, String, String)])
  object Actual {
    def apply(spark: SparkSession, ing: Ingested): Actual = {
      def aggs(df: DataFrame) = df.groupBy("path")
        .agg(count(lit(1)), sum("value"), countDistinct("time")).collect()
        .map(r => r.getString(0) -> PathAgg(r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
      val days = datediff(col("date"), lit("1970-01-01"))
      Actual(aggs(ing.ingest.pointsTable()), aggs(ing.ingest.pointsReverseTable()),
        ing.ingest.indexLatest().select(days, col("level"), col("path")).collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSet,
        ing.ingest.taggedLatest().select(days, col("tag1"), col("path")).collect()
          .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet)
    }
  }

  final case class Expected(points: Map[String, PathAgg], reverse: Map[String, PathAgg],
                            index: Set[(Int, Long, String)], tagged: Set[(Int, String, String)],
                            answers: Seq[Seq[String]])
  object Expected {
    def apply(input: Input, reads: Seq[Read]): Expected = Expected(
      pointsAgg(input.points, reverse = false), pointsAgg(input.points, reverse = true),
      indexKeys(input.points), taggedKeys(input.series, input.points),
      reads.map(answer(_, input.series, input.points)))
  }

  private def diff[K](what: String, actual: Iterable[K], expected: Iterable[K]): Option[String] = {
    val (a, e) = (actual.toSet, expected.toSet)
    if (a == e) None
    else Some(s"$what: ${(e -- a).size} missing (e.g. ${(e -- a).take(2)}), ${(a -- e).size} unexpected (e.g. ${(a -- e).take(2)})")
  }

  /** Every check the run makes. Points: each acked point exactly once in
    * both points tables (count, distinct times and value sum per path).
    * Index/tagged: the key sets of the latest views. Reads: each answer. */
  def checks(a: Actual, e: Expected, calls: Seq[ReadCall]): Seq[String] =
    (Seq(
      diff("points", a.points, e.points),
      diff("points_reverse", a.reverse, e.reverse),
      diff("index keys", a.index, e.index),
      diff("tagged keys", a.tagged, e.tagged)) ++
      calls.zip(e.answers).map { case (c, ans) =>
        if (c.rows == ans) None else diff(s"read ${c.read}", c.rows, ans).orElse(Some(s"read ${c.read}: row multiplicity"))
      }).flatten

  /** Each check must fail on a planted wrong answer: a dropped point, an
    * altered read result and an altered oracle row. */
  def selftest(a: Actual, e: Expected, calls: Seq[ReadCall], clean: Seq[String]): Boolean = {
    val (path, agg) = a.points.head
    val dropped = a.copy(points = a.points.updated(path, agg.copy(count = agg.count - 1)))
    val i = calls.indexWhere(_.rows.nonEmpty)
    val altered = calls.updated(i, calls(i).copy(rows = calls(i).rows.updated(0, calls(i).rows.head + "x")))
    val oracle = e.copy(index = e.index - e.index.head + ((0, 1L, "planted")))
    val planted = Seq(
      "dropped point" -> checks(dropped, e, calls),
      "altered read result" -> checks(a, e, altered),
      "altered oracle row" -> checks(a, oracle, calls))
    println(s"selftest: clean run ${if (clean.isEmpty) "passes" else "FAILS: " + clean.mkString("; ")}")
    planted.foreach { case (what, errs) =>
      println(s"selftest: $what ${if (errs.nonEmpty) "detected: " + errs.head else "NOT DETECTED"}")
    }
    clean.isEmpty && planted.forall(_._2.nonEmpty)
  }

  /** Point-to-batch attribution. Backfill: every point lies in exactly
    * one spool chunk, every chunk was read by exactly one batch, and each
    * batch's rows are its chunks' lines. Live rests on the stream reading
    * chunks in spool order: checked against the stream's own source log. */
  def attributionError(ing: Ingested, batches: Seq[Batch]): Option[String] = {
    val rows = batches.map(_.rows).sum
    val log = sourceLog(ing.dir)
    if (rows != ing.handoverMs.length) Some(s"batches committed $rows rows for ${ing.handoverMs.length} points")
    else if (ing.chunkPoints.nonEmpty) {
      val seqs = ing.chunkPoints.values.flatten.toSeq
      val byChunk = log.groupBy(x => chunkName(x._2))
      val batchLines = log.groupBy(_._1).map { case (b, cs) => b -> cs.map(c => ing.chunkPoints.getOrElse(chunkName(c._2), Nil).size.toLong).sum }
      if (seqs.sorted != ing.handoverMs.indices) Some(s"spool chunks hold ${seqs.size} lines, not each of ${ing.handoverMs.length} points once")
      else if (byChunk.keySet != ing.chunkPoints.keySet || byChunk.values.exists(_.size != 1))
        Some(s"stream read ${byChunk.size} chunks (some more than once?) of ${ing.chunkPoints.size}")
      else batches.find(b => batchLines.getOrElse(b.id, -1L) != b.rows)
        .map(b => s"batch ${b.id} committed ${b.rows} rows, its chunks hold ${batchLines.getOrElse(b.id, 0L)}")
    } else {
      val ranges = log.map { case (b, p) => b -> chunkSeq(p) }.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (_, s) => (s.map(_._2).min, s.map(_._2).max) }
      if (ranges.sliding(2).exists { case Seq(x, y) => x._2 >= y._1; case _ => false })
        Some(s"stream read chunks out of spool order: $ranges")
      else None
    }
  }

  // ---------------- helpers ----------------

  /** Per point, by seq: the end of the batch that committed it minus its
    * hand-over (NaN for a point no batch committed). */
  def freshness(batches: Seq[Batch], ing: Ingested): Array[Double] = {
    val handover = ing.handoverMs
    val out = Array.fill(handover.length)(Double.NaN)
    if (ing.chunkPoints.nonEmpty) {
      val endOf = batches.map(b => b.id -> b.endMs).toMap
      for ((b, path) <- sourceLog(ing.dir); end <- endOf.get(b);
           seq <- ing.chunkPoints.getOrElse(chunkName(path), Nil) if seq >= 0)
        out(seq) = (end - handover(seq)).toDouble
    } else {
      var seq = 0
      for (b <- batches; _ <- 0L until b.rows if seq < handover.length) {
        out(seq) = (b.endMs - handover(seq)).toDouble; seq += 1
      }
    }
    out
  }

  /** (batch id, chunk path) of every file the stream read, from its
    * checkpoint's file-source log. */
  def sourceLog(dir: String): Seq[(Long, String)] = {
    val logDir = Paths.get(dir, "ckpt", "sources", "0")
    val m = new ObjectMapper()
    Files.list(logDir).iterator().asScala.filter(p => !p.getFileName.toString.startsWith(".")).toSeq
      .flatMap(p => Files.readAllLines(p).asScala.filter(_.startsWith("{")))
      .map { l => val n = m.readTree(l); n.get("batchId").asLong -> n.get("path").asText }
      .distinct
  }

  private def chunkName(path: String): String = path.split('/').last

  private def chunkSeq(path: String): Long =
    chunkName(path).split('-')(3).takeWhile(_.isDigit).toLong

  private def queryId(dir: String): String =
    new ObjectMapper().readTree(Paths.get(dir, "ckpt", "metadata").toFile).get("id").asText

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Int): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  private def cpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** The machine-wide jiffy counters of /proc/stat (user … steal …). */
  private def cpuStat(): Array[Long] =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)

  private def jitS(): Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Peak resident set of this JVM. It follows the collector's heap
    * sizing more than the program, so it is reported for information only. */
  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  /** Heap in use right after a full collection, in MB. */
  private def retainedHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def json(m: java.util.Map[String, Any]): String = new ObjectMapper().writeValueAsString(m)
}

/** Traced run only: samples the spool's unhandled-chunk count, the
  * backpressure gauge, every 20 ms. */
final class ChunkSampler(spool: SpoolWriter) {
  @volatile private var max = 0
  private val ex = java.util.concurrent.Executors.newSingleThreadScheduledExecutor()
  ex.scheduleAtFixedRate(() => max = math.max(max, spool.unhandledChunks()), 0, 20,
    java.util.concurrent.TimeUnit.MILLISECONDS)
  def stop(): Int = { ex.shutdown(); ex.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS); max }
}
