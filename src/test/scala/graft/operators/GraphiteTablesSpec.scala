package graft.operators

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.core.Rollup
import graft.streaming.{SpoolWriter, StreamingIngest}

/** The user-facing query layer over an ingested table layout. */
class GraphiteTablesSpec extends AnyFunSuite with SharedSpark {

  private var tables: GraphiteTables = _

  override def beforeAll(): Unit = {
    super.beforeAll()

    val work = Files.createTempDirectory("graft-qlayer").toString
    val spool = new SpoolWriter(s"$work/spool", chunkIntervalMs = 100)
    val now = System.currentTimeMillis() / 1000
    Seq(
      "web.host1.cpu.load 1.0 1625478240",
      "web.host1.cpu.load 2.0 1625478300",
      "web.host2.cpu.load 3.0 1625478240",
      "web.host2.mem.used 4.0 1625478240",
      "db.host1.cpu.load 5.0 1625478240",
      "req.count;dc=east;env=prod 6.0 1625478240",
      "req.count;dc=west;env=prod 7.0 1625478240"
    ).foreach(l => spool.writeLine(l, now))
    spool.close()
    val ingest = new StreamingIngest(spark, s"$work/spool", s"$work/tables", s"$work/ckpt")
    ingest.runAvailableNow()
    tables = new GraphiteTables(spark, s"$work/tables")
  }

  private val d1 = java.sql.Date.valueOf("2021-07-01")
  private val d2 = java.sql.Date.valueOf("2021-07-31")

  test("glob routing picks the orientation with the longer literal head") {
    assert(!tables.preferReverse("web.host1.*.load")) // "web.host1." beats "load."
    assert(tables.preferReverse("*.host1.cpu.load"))  // "load.cpu.host1." beats ""
    assert(tables.preferReverse("web.*.cpu.load"))    // "load.cpu." beats "web."
    assert(tables.reverseGlob("*.host1.cpu.load") == "load.cpu.host1.*")
  }

  test("find: forward glob") {
    val got = tables.find("web.*.cpu.load", d1, d2).collect().map(_.getString(0)).sorted
    assert(got.toSeq == Seq("web.host1.cpu.load", "web.host2.cpu.load"))
  }

  test("find: suffix-heavy glob routes through the reverse index, returns forward paths") {
    val got = tables.find("*.host1.cpu.load", d1, d2).collect().map(_.getString(0)).sorted
    assert(got.toSeq == Seq("db.host1.cpu.load", "web.host1.cpu.load"))
  }

  test("seriesRange reads the window, reverse-routed globs included") {
    val fwd = tables.seriesRange("web.host1.*.*", 1625478240L, 1625478300L)
      .select("path", "value").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(fwd.toSeq == Seq(("web.host1.cpu.load", 1.0)))
    val rev = tables.seriesRange("*.*.cpu.load", 1625478240L, 1625478400L)
      .select("path", "value").collect().map(r => (r.getString(0), r.getDouble(1))).sortBy(_._2)
    assert(rev.toSeq == Seq(
      ("web.host1.cpu.load", 1.0), ("web.host1.cpu.load", 2.0),
      ("web.host2.cpu.load", 3.0), ("db.host1.cpu.load", 5.0)))
  }

  test("seriesRangeRollup aggregates per precision bucket") {
    val cfg = Rollup.Config(Nil, Rollup.Rule("""^""".r, Rollup.Avg, Seq(Rollup.Retention(0, 3600))))
    val got = tables.seriesRangeRollup("web.host1.cpu.*", 0L, 4102444800L, cfg, 1625480000L)
      .select("path", "value", "points").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2)))
    assert(got.toSeq == Seq(("web.host1.cpu.load", 1.5, 2L)))
  }

  test("seriesRangeRollup weights physically rolled buckets by sample count") {
    // separate layout: aged samples -> physical rollup -> late raw row
    val work = Files.createTempDirectory("graft-qlayer-roll").toString
    val spool = new SpoolWriter(s"$work/spool", chunkIntervalMs = 100)
    val now = System.currentTimeMillis() / 1000
    val old1 = 1609459200L // 2021-01-01, aged
    Seq(s"roll.cpu.v 1.0 $old1", s"roll.cpu.v 3.0 ${old1 + 60}")
      .foreach(l => spool.writeLine(l, now))
    spool.close()
    val ingest = new StreamingIngest(spark, s"$work/spool", s"$work/tables", s"$work/ckpt")
    ingest.runAvailableNow()
    val cfg = Rollup.Config(Nil, Rollup.Rule("""^""".r, Rollup.Avg, Seq(Rollup.Retention(0, 3600))))
    assert(graft.streaming.TableCompactor.rollupPoints(
      spark, s"$work/tables/points", cfg, now, 30L * 86400) == 1)
    // late raw sample lands in the already-rolled hour bucket
    val spool2 = new SpoolWriter(s"$work/spool", chunkIntervalMs = 100)
    spool2.writeLine(s"roll.cpu.v 8.0 ${old1 + 120}", now)
    spool2.close()
    ingest.runAvailableNow()

    val t = new GraphiteTables(spark, s"$work/tables")
    val got = t.seriesRangeRollup("roll.cpu.*", 0L, 4102444800L, cfg, now)
      .select("value", "points").collect().map(r => (r.getDouble(0), r.getLong(1)))
    // true mean (1+3+8)/3 = 4.0 over 3 samples, not avg(avg(1,3), 8) = 5.0
    assert(got.toSeq == Seq((4.0, 3L)), s"got ${got.toSeq}")
  }

  test("findTree: date-less lookup with branch/leaf flags (nodaily fallback)") {
    val got = tables.findTree("web.*").collect()
      .map(r => (r.getString(0), r.getBoolean(1))).sortBy(_._1)
    assert(got.toSeq == Seq(("web.host1", false), ("web.host2", false)))
    val leaves = tables.findTree("web.host1.cpu.*").collect()
      .map(r => (r.getString(0), r.getBoolean(1)))
    assert(leaves.toSeq == Seq(("web.host1.cpu.load", true)))
    val mixed = tables.findTree("db.host1.*").collect()
      .map(r => (r.getString(0), r.getBoolean(1)))
    assert(mixed.toSeq == Seq(("db.host1.cpu", false)))
  }

  test("tag browsing: keys, values, seriesByTag") {
    assert(tables.tagKeys().collect().map(_.getString(0)).sorted.toSeq ==
      Seq("__name__", "dc", "env"))
    assert(tables.tagValues("dc").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("east", "west"))
    assert(tables.seriesByTag("dc", "east").collect().map(_.getString(0)).toSeq ==
      Seq("req.count?dc=east&env=prod"))
  }

  test("tag autocomplete: key and value prefixes") {
    assert(tables.tagKeys("d").collect().map(_.getString(0)).toSeq == Seq("dc"))
    assert(tables.tagKeys("dc=").collect().isEmpty, "prefix must not span the '='")
    assert(tables.tagValues("dc", "e").collect().map(_.getString(0)).toSeq == Seq("east"))
    assert(tables.tagValues("dc", "").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("east", "west"))
    assert(tables.tagValues("dc", "north").collect().isEmpty)
  }

  test("seriesByTagSpecs: =, !=, =~, !=~ matcher grammar") {
    def specs(ss: String*): Seq[String] =
      tables.seriesByTagSpecs(ss).collect().map(_.getString(0)).sorted.toSeq
    val east = "req.count?dc=east&env=prod"
    val west = "req.count?dc=west&env=prod"
    assert(specs("env=prod") == Seq(east, west))
    assert(specs("env=prod", "dc!=west") == Seq(east))
    assert(specs("env=prod", "dc=~ea.*") == Seq(east))
    assert(specs("dc=~.*st") == Seq(east, west), "=~ anchors at value START only")
    assert(specs("env=prod", "dc!=~we.*") == Seq(east))
    // != matches series LACKING the tag too (graphite semantics): the
    // untagged corpus has no req.count series, so nothing changes here,
    // but a spec of only negations must be rejected
    intercept[IllegalArgumentException] {
      tables.seriesByTagSpecs(Seq("dc!=east")).collect()
    }
  }

  test("seriesByTags: multi-matcher AND semantics") {
    // env=prod matches both series; adding dc=west intersects to one
    assert(tables.seriesByTags(Seq("env" -> "prod", "dc" -> "west"))
      .collect().map(_.getString(0)).toSeq == Seq("req.count?dc=west&env=prod"))
    // both matchers on one series; order of matchers is irrelevant
    assert(tables.seriesByTags(Seq("dc" -> "west", "env" -> "prod"))
      .collect().map(_.getString(0)).toSeq == Seq("req.count?dc=west&env=prod"))
    // a matcher with no series yields empty, not an error
    assert(tables.seriesByTags(Seq("env" -> "prod", "dc" -> "north")).isEmpty)
  }

  /** The Spark jobs `call` starts, counted by job group. A listener
    * receives events in order, so once a later fence job's start has
    * arrived, every start of the call has too. */
  private def jobsOf(call: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${System.nanoTime()}"
    val started = new AtomicInteger
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")).foreach { g =>
          if (g == group) started.incrementAndGet()
          else if (g == s"$group-fence") fenced.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted call")
      call
      sc.setJobGroup(s"$group-fence", "fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(30, TimeUnit.SECONDS), "fence job start never arrived")
      started.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("each small answer runs one Spark job, a render at most two") {
    val cfg = Rollup.Config(Nil, Rollup.Rule("""^""".r, Rollup.Avg, Seq(Rollup.Retention(0, 3600))))
    val calls = Seq[(String, () => Unit)](
      "forward find" -> (() => tables.find("web.*.cpu.load", d1, d2).collect()),
      "reverse find" -> (() => tables.find("*.host1.cpu.load", d1, d2).collect()),
      "tagValues" -> (() => tables.tagValues("dc").collect()),
      "seriesByTag" -> (() => tables.seriesByTag("dc", "east").collect()))
    calls.foreach(_._2()) // warm
    for ((name, call) <- calls) {
      val n = jobsOf(call())
      assert(n == 1, s"$name started $n jobs")
    }
    val render = jobsOf(tables.seriesRangeRollup("web.host1.cpu.*", 0L, 4102444800L, cfg, 1625480000L).collect())
    assert(render <= 2, s"seriesRangeRollup started $render jobs")
  }

  test("a table not written yet reads as an empty answer, not an error") {
    // plain series only: the ingest never writes the tagged table
    val work = Files.createTempDirectory("graft-qlayer-plain").toString
    val spool = new SpoolWriter(s"$work/spool", chunkIntervalMs = 100)
    spool.writeLine("web.host1.cpu.load 1.0 1625478240", System.currentTimeMillis() / 1000)
    spool.close()
    new StreamingIngest(spark, s"$work/spool", s"$work/tables", s"$work/ckpt").runAvailableNow()
    assert(!Files.exists(Paths.get(s"$work/tables/tagged")))
    val plain = new GraphiteTables(spark, s"$work/tables")
    assert(plain.find("web.*.cpu.load", d1, d2).collect().map(_.getString(0)).toSeq == Seq("web.host1.cpu.load"))
    assert(plain.tagKeys().collect().isEmpty)
    assert(plain.tagValues("dc").collect().isEmpty)
    assert(plain.seriesByTag("dc", "east").collect().isEmpty)

    // a root holding no data files: one table missing, one with only an
    // empty batch dir
    val bare = Files.createTempDirectory("graft-qlayer-bare").toString
    Files.createDirectories(Paths.get(s"$bare/index/batch=b0"))
    Files.write(Paths.get(s"$bare/index/batch=b0/_SUCCESS"), Array.emptyByteArray)
    val empty = new GraphiteTables(spark, bare)
    assert(empty.find("web.*", d1, d2).collect().isEmpty)
    assert(empty.findTree("web.*").collect().isEmpty)
    assert(empty.seriesByTag("dc", "east").collect().isEmpty)
    val cfg = Rollup.Config(Nil, Rollup.Rule("""^""".r, Rollup.Avg, Seq(Rollup.Retention(0, 3600))))
    assert(empty.seriesRangeRollup("web.*", 0L, 4102444800L, cfg, 1625480000L).collect().isEmpty)
  }
}
