package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.core.Toml

/**
 * Config-driven operation: the reference-shaped TOML
 * (tests/plain/carbon-clickhouse.conf.tpl) maps onto the engine, and an
 * e2e boot from a rendered config exercises disable-daily-index and the
 * legacy tree/series/series-reverse uploader types.
 */
class ConfigSpec extends AnyFunSuite with SharedSpark {

  /** tests/plain/carbon-clickhouse.conf.tpl with its template vars rendered. */
  private val referenceShapedConf =
    """[common]
      |
      |[data]
      |path = "/tmp/graft-conf-store"
      |chunk-max-size = 128
      |chunk-interval = "5s"
      |chunk-auto-interval = ""
      |
      |[upload.graphite_index]
      |type = "index"
      |table = "graphite_index"
      |url = "http://localhost:8123/"
      |timeout = "2m30s"
      |cache-ttl = "1h"
      |
      |[upload.graphite_tags]
      |type = "tagged"
      |table = "graphite_tags"
      |threads = 3
      |url = "http://localhost:8123/"
      |timeout = "2m30s"
      |cache-ttl = "1h"
      |ignored-tagged-metrics = ["noisy.metric"]
      |
      |[upload.graphite_reverse]
      |type = "points-reverse"
      |table = "graphite_reverse"
      |url = "http://localhost:8123/"
      |timeout = "2m30s"
      |zero-timestamp = true
      |
      |[upload.graphite]
      |type = "points"
      |table = "graphite"
      |url = "http://localhost:8123/"
      |timeout = "2m30s"
      |zero-timestamp = true
      |ignored-patterns = [
      |    "ignored.metric.*",
      |]
      |
      |[tcp]
      |listen = ":2003"
      |enabled = true
      |drop-future = "0s"
      |drop-past = "0s"
      |
      |[udp]
      |enabled = false
      |
      |[pickle]
      |enabled = false
      |
      |[grpc]
      |enabled = false
      |
      |[prometheus]
      |enabled = false
      |
      |[telegraf_http_json]
      |enabled = false
      |
      |[logging]
      |file = "/tmp/graft-conf-store/carbon-clickhouse.log"
      |level = "debug"
      |""".stripMargin

  test("parses the reference e2e config template shape") {
    val cfg = EngineConfig.parse(referenceShapedConf)
    assert(cfg.chunkIntervalMs == 5000)
    // bare Size int is BYTES (helper/config/size.go; the reference's e2e
    // template really does mean a 128-byte rotation cap)
    assert(cfg.chunkMaxBytes == 128L)
    assert(cfg.utcDate)
    assert(cfg.tcp.enabled && cfg.tcp.port.contains(2003))
    assert(cfg.tcp.drops.isEmpty, "0s drop windows mean disabled")
    assert(!cfg.udp.enabled && !cfg.pickle.enabled && !cfg.prometheus.enabled)
    assert(cfg.uploads.map(_.typ).sorted == Seq("index", "points", "points-reverse", "tagged"))
    assert(cfg.upload("index").flatMap(_.cacheTtlDays).contains(1), "1h ttl rounds up to 1 day")
    assert(cfg.upload("points").exists(_.zeroTimestamp))
    assert(cfg.ignoredTaggedMetrics == Set("noisy.metric"))
    assert(cfg.blacklist.exists(_.contains("ignored.metric.x", isReverse = false)))
    assert(cfg.legacyTables.isEmpty)
  }

  test("common section: metric prefix with {host} placeholder, interval") {
    val cfg = EngineConfig.parse(
      "[common]\nmetric-prefix = \"carbon.agents.{host}\"\nmetric-interval = \"30s\"\n")
    assert(!cfg.metricPrefix.contains("{host}"))
    assert(cfg.metricPrefix.startsWith("carbon.agents."))
    assert(cfg.metricIntervalMs == 30000L)
    assert(EngineConfig.parse("").metricIntervalMs == 60000L)
  }

  test("r4 parity keys: max-cpu, metric-endpoint, read-timeout, log-incomplete, compression-level") {
    val cfg = EngineConfig.parse(
      """[common]
        |max-cpu = 8
        |metric-endpoint = "tcp://127.0.0.1:2003"
        |[data]
        |compression = "gzip"
        |compression-level = 5
        |[tcp]
        |listen = ":2003"
        |enabled = true
        |read-timeout = "2m0s"
        |[udp]
        |listen = ":2003"
        |enabled = true
        |log-incomplete = true
        |""".stripMargin)
    assert(cfg.maxCpu.contains(8))
    assert(cfg.metricEndpoint == "tcp://127.0.0.1:2003")
    assert(cfg.compressionLevel.contains(5))
    assert(cfg.tcp.readTimeoutMs.contains(120000L))
    assert(cfg.udp.logIncomplete)
    // defaults: local endpoint, no timeout, no level
    val d = EngineConfig.parse("")
    assert(d.metricEndpoint == "local" && d.maxCpu.isEmpty &&
      d.tcp.readTimeoutMs.isEmpty && !d.udp.logIncomplete && d.compressionLevel.isEmpty)
  }

  test("metric-endpoint tcp:// ships self-points to a remote graphite listener") {
    // a TcpLineServer stands in for the remote graphite: self-metrics
    // emitted at the endpoint must arrive as plaintext points there, and
    // the local spool must NOT receive them
    val work = java.nio.file.Files.createTempDirectory("graft-endpoint").toString
    val remoteSpool = new SpoolWriter(s"$work/remote", chunkIntervalMs = 50)
    val remote = new graft.sources.TcpLineServer(remoteSpool, port = 0)
    val localSpool = new SpoolWriter(s"$work/local", chunkIntervalMs = 50)
    val collector = new graft.sources.SelfMetricsCollector(localSpool,
      prefix = "carbon.agents.test", intervalMs = 3600000,
      endpoint = s"tcp://127.0.0.1:${remote.boundPort}")
    try {
      localSpool.writeLine("seed.metric 1 1625478240", 1625478240L)
      collector.collectOnce()
      val deadline = System.currentTimeMillis() + 5000
      while (remoteSpool.pointsWritten.get() < 4 && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(remoteSpool.pointsWritten.get() == 4, "4 self-metric points at the remote")
      assert(localSpool.pointsWritten.get() == 1, "local spool holds only the seed point")
    } finally { collector.close(); remote.close(); remoteSpool.close(); localSpool.close() }
  }

  test("size option: bare bytes, k/m/g suffixes, 0 = unlimited") {
    // helper/config/size.go semantics
    assert(Toml.parseSize("128") == 128L)
    assert(Toml.parseSize("512k") == 512L * 1024)
    assert(Toml.parseSize("64m") == 64L * 1024 * 1024)
    assert(Toml.parseSize("1g") == 1024L * 1024 * 1024)
    intercept[Exception](Toml.parseSize("-1"))
    // suffixed string form from the README ("512m") parses too
    assert(EngineConfig.parse("[data]\nchunk-max-size = \"512m\"\n").chunkMaxBytes == 512L * 1024 * 1024)
    // 0 / absent = no size limit (writer.go:148) -> rotation by interval only
    assert(EngineConfig.parse("[data]\nchunk-max-size = 0\n").chunkMaxBytes == 0L)
    assert(EngineConfig.parse("").chunkMaxBytes == 0L)
    val dir = Files.createTempDirectory("graft-size").toString
    val unlimited = new SpoolWriter(s"$dir/spool", chunkIntervalMs = 3600000, chunkMaxBytes = 0)
    (1 to 100).foreach(i => unlimited.write(s"a.b.c$i", i.toDouble, 1625478240L, 1625478999L))
    unlimited.close()
    val chunks = Files.list(java.nio.file.Paths.get(s"$dir/spool")).toArray
      .map(_.toString).count(_.endsWith(".tsv"))
    assert(chunks <= SpoolWriter.DefaultStripes,
      s"chunkMaxBytes=0 must not rotate per write (got $chunks chunks)")
  }

  test("compression option parses and the streaming job reads a gzip spool end-to-end") {
    // [data] compression (carbon/config.go:95): none|lz4 in the
    // reference — lz4 is honored as real lz4 chunks; gzip is an extra;
    // anything else rejected like compression.go:41
    assert(EngineConfig.parse("").compression == "none")
    assert(EngineConfig.parse("[data]\ncompression = \"gzip\"\n").compression == "gzip")
    assert(EngineConfig.parse("[data]\ncompression = \"lz4\"\n").compression == "lz4")
    intercept[IllegalArgumentException](EngineConfig.parse("[data]\ncompression = \"zstd\"\n"))

    val work = Files.createTempDirectory("graft-gz").toString
    val spool = new SpoolWriter(s"$work/spool", chunkIntervalMs = 100, compression = "gzip")
    spool.writeLine("gz.a.b 1.5 1625478240", 1625478999L)
    spool.writeLine("gz.c.d 2.5 1625478300", 1625478999L)
    spool.close()
    val chunks = Files.list(java.nio.file.Paths.get(s"$work/spool")).toArray.map(_.toString)
    assert(chunks.exists(_.endsWith(".tsv.gz")), s"expected gz chunks, got ${chunks.toSeq}")
    assert(chunks.forall(!_.endsWith(".tsv")), "gzip writer must not emit plain chunks")

    val ingest = new StreamingIngest(spark, s"$work/spool", s"$work/tables", s"$work/ckpt")
    ingest.runAvailableNow()
    val rows = ingest.pointsTable().select("path", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(rows == Set(("gz.a.b", 1.5), ("gz.c.d", 2.5)))

    // SpoolTool reads gz chunks: recover keeps both rows
    val out = s"$work/recovered.tsv"
    // (the streaming job consumed+deleted the spool; write a fresh chunk)
    val spool2 = new SpoolWriter(s"$work/spool2", chunkIntervalMs = 100, compression = "gzip")
    spool2.writeLine("gz.e.f 3.5 1625478360", 1625478999L)
    spool2.close()
    val chunk2 = Files.list(java.nio.file.Paths.get(s"$work/spool2")).toArray
      .map(_.toString).find(_.endsWith(".tsv.gz")).get
    val (good, bad) = graft.tools.SpoolTool.recover(chunk2, out)
    assert(good == 1 && bad == 0)
  }

  test("lz4 spool round-trips through the streaming job, SpoolTool, and flush durability") {
    // reference writer.go:200-232: lz4 (lz4hc with a level) spool
    // compression — real lz4 chunks in the Hadoop block layout
    val work = Files.createTempDirectory("graft-lz4").toString
    val spool = new SpoolWriter(s"$work/spool", chunkIntervalMs = 100, compression = "lz4")
    spool.writeLine("l4.a.b 1.5 1625478240", 1625478999L)
    spool.writeLine("l4.c.d 2.5 1625478300", 1625478999L)

    // StoreSync durability point: after flushCurrent() the rows must be
    // decodable from the IN-FLIGHT .tmp chunk — the whole reason the
    // block stream is hand-rolled instead of codec.createOutputStream
    spool.flushCurrent()
    val tmp = Files.list(java.nio.file.Paths.get(s"$work/spool")).toArray
      .map(_.toString).filter(_.endsWith(".tsv.lz4.tmp"))
    val codec = new org.apache.hadoop.io.compress.Lz4Codec()
    codec.setConf(new org.apache.hadoop.conf.Configuration(false))
    val durable = tmp.flatMap { p =>
      val r = new java.io.BufferedReader(new java.io.InputStreamReader(
        codec.createInputStream(Files.newInputStream(java.nio.file.Paths.get(p)))))
      try Iterator.continually(r.readLine()).takeWhile(_ != null).toList finally r.close()
    }
    assert(durable.count(_.startsWith("l4.")) == 2,
      s"both rows must be durable in the .tmp chunk after flush, got ${durable.toSeq}")

    spool.close()
    val chunks = Files.list(java.nio.file.Paths.get(s"$work/spool")).toArray.map(_.toString)
    assert(chunks.exists(_.endsWith(".tsv.lz4")), s"expected lz4 chunks, got ${chunks.toSeq}")

    // Spark's text source reads the chunks by extension
    val ingest = new StreamingIngest(spark, s"$work/spool", s"$work/tables", s"$work/ckpt")
    ingest.runAvailableNow()
    val rows = ingest.pointsTable().select("path", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(rows == Set(("l4.a.b", 1.5), ("l4.c.d", 2.5)))

    // SpoolTool reads lz4 chunks; lz4hc (compression-level) writes the
    // same-layout chunks (HC only changes the encoder search)
    val spool2 = new SpoolWriter(s"$work/spool2", chunkIntervalMs = 100,
      compression = "lz4", compressionLevel = Some(9))
    spool2.writeLine("l4.e.f 3.5 1625478360", 1625478999L)
    spool2.close()
    val chunk2 = Files.list(java.nio.file.Paths.get(s"$work/spool2")).toArray
      .map(_.toString).find(_.endsWith(".tsv.lz4")).get
    val (good, bad) = graft.tools.SpoolTool.recover(chunk2, s"$work/recovered-lz4.tsv")
    assert(good == 1 && bad == 0)
  }

  test("configurable tree date (uploader `date` key) reaches the index expansion") {
    // absent -> magic day 42 default
    assert(EngineConfig.parse(referenceShapedConf).treeDate.isEmpty)
    val cfg = EngineConfig.parse(
      "[upload.graphite_index]\ntype = \"index\"\ndate = \"2021-07-05\"\n")
    assert(cfg.treeDate.contains(java.sql.Date.valueOf("2021-07-05")))

    val work = Files.createTempDirectory("graft-treedate").toString
    val spool = new SpoolWriter(s"$work/spool", chunkIntervalMs = 100)
    spool.writeLine("td.a.b 1.0 1625478240", 1625478999L)
    spool.close()
    val ingest = new StreamingIngest(spark, s"$work/spool", s"$work/tables", s"$work/ckpt",
      treeDate = cfg.treeDate)
    ingest.runAvailableNow()
    val treeDates = ingest.indexTable().filter(col("level") > 20000L)
      .select("date").distinct().collect().map(_.getDate(0)).toSet
    assert(treeDates == Set(java.sql.Date.valueOf("2021-07-05")),
      s"tree rows must carry the configured date, got $treeDates")
  }

  test("duration and toml edge cases") {
    assert(Toml.durationMs("2m30s") == 150000)
    assert(Toml.durationMs("1h") == 3600000)
    assert(Toml.durationMs("100ms") == 100)
    assert(Toml.durationMs("0s") == 0)
    val doc = Toml.parse("a = [\n  \"x\", # comment\n  \"y\"\n]\nb = 3\n[t.u]\nc = \"q#r\"")
    assert(Toml.strings(doc, "", "a") == Seq("x", "y"))
    assert(Toml.long(doc, "", "b").contains(3L))
    assert(Toml.str(doc, "t.u", "c").contains("q#r"))
  }

  test("e2e boot from nodaily config with legacy table types") {
    val work = Files.createTempDirectory("graft-conf-e2e").toString
    val conf = EngineConfig.parse(
      """[data]
        |chunk-interval = "1s"
        |
        |[upload.graphite_index]
        |type = "index"
        |cache-ttl = "12h"
        |disable-daily-index = true
        |
        |[upload.graphite_tree]
        |type = "tree"
        |
        |[upload.graphite_series]
        |type = "series"
        |
        |[upload.graphite_series_r]
        |type = "series-reverse"
        |
        |[upload.graphite]
        |type = "points"
        |zero-timestamp = true
        |""".stripMargin)
    assert(conf.disableDailyIndex)
    assert(conf.legacyTables == Set("tree", "series", "series-reverse"))

    val spool = new SpoolWriter(s"$work/spool", chunkIntervalMs = 100)
    Seq(
      "test.host1.cpu.loadavg 10.2 1625478240",
      "test.host1.cpu.loadavg 9.4 1625478300",
      "cpu.loadavg;env=test;host=host1 2.1 1625478240"
    ).foreach(l => spool.writeLine(l, System.currentTimeMillis() / 1000)) // receive time = now
    spool.close()

    val ingest = new StreamingIngest(spark, s"$work/spool", s"$work/tables", s"$work/ckpt",
      blacklist = conf.blacklist,
      disableDailyIndex = conf.disableDailyIndex,
      utcDate = conf.utcDate,
      cacheTtlDays = conf.cacheTtlDays,
      ignoredTaggedMetrics = conf.ignoredTaggedMetrics,
      legacyTables = conf.legacyTables)
    ingest.runAvailableNow()

    // tests/plain-nodaily/test.toml verify #1: ONLY tree rows, no daily rows
    val idx = ingest.indexTable()
      .filter(col("path").startsWith("test.") || col("path").endsWith(".test"))
      .select(col("date").cast("string"), col("level"), col("path"))
      .orderBy("date", "level", "path")
      .collect().map(r => s"${r.getString(0)} ${r.getLong(1)} ${r.getString(2)}")
    assert(idx.toSeq == Seq(
      "1970-02-12 20001 test.",
      "1970-02-12 20002 test.host1.",
      "1970-02-12 20003 test.host1.cpu.",
      "1970-02-12 20004 test.host1.cpu.loadavg",
      "1970-02-12 30004 loadavg.cpu.host1.test"))

    // legacy tree: unoffset levels at the fixed tree date, prefixes included
    val tree = ingest.legacyTable("tree")
      .select(col("date").cast("string"), col("level"), col("path"))
      .orderBy("level", "path")
      .collect().map(r => s"${r.getString(0)} ${r.getLong(1)} ${r.getString(2)}")
    assert(tree.toSeq == Seq(
      "1970-02-12 1 test.",
      "1970-02-12 2 test.host1.",
      "1970-02-12 3 test.host1.cpu.",
      "1970-02-12 4 test.host1.cpu.loadavg"))

    // legacy series: one row per (day, path), no prefixes; reverse variant reversed
    val series = ingest.legacyTable("series")
      .select(col("date").cast("string"), col("level"), col("path"))
      .collect().map(r => s"${r.getString(0)} ${r.getLong(1)} ${r.getString(2)}")
    assert(series.toSeq == Seq("2021-07-05 4 test.host1.cpu.loadavg"))
    val seriesRev = ingest.legacyTable("series-reverse")
      .select(col("path")).collect().map(_.getString(0))
    assert(seriesRev.toSeq == Seq("loadavg.cpu.host1.test"))

    // re-ingest within TTL: legacy tables dedup too
    val spool2 = new SpoolWriter(s"$work/spool", chunkIntervalMs = 100)
    spool2.writeLine("test.host1.cpu.loadavg 1.1 1625478360", System.currentTimeMillis() / 1000)
    spool2.close()
    ingest.runAvailableNow()
    assert(ingest.legacyTable("tree").count() == 4)
    assert(ingest.legacyTable("series").count() == 1)
  }
}
