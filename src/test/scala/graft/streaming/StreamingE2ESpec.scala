package graft.streaming

import java.net.Socket
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark
import graft.sources.TcpLineServer

/**
 * End-to-end port of the reference e2e harness
 * (/root/reference/tests/plain/test.toml): the 96-line plaintext corpus
 * is sent over a REAL TCP socket to the front-end, spooled, ingested by
 * the Structured Streaming job into the four tables, and the reference's
 * verify queries are asserted against its golden outputs.
 */
class StreamingE2ESpec extends AnyFunSuite with SharedSpark {

  private var work: java.nio.file.Path = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    work = Files.createTempDirectory("graft-e2e")
  }

  private def corpus: Seq[String] = {
    val host = (h: String) =>
      Seq("user", "idle", "system", "iowait").flatMap(m =>
        (0 to 3).map(c => s"test2.$h.cpu$c.$m 10.2 1625478240") :+
          s"test2.$h.cpu-total.$m 10.2 1625478240")
    Seq(
      "test.host1.cpu.loadavg 10.2 1625478240",
      "cpu.loadavg;env=test2;host=host1;env=test 21.4 1625478300") ++
      host("host1") ++
      Seq("test2.host2.cpu.loadavg 9.4 1625478300") ++ host("host2") ++
      Seq("test2.host31.cpu.loadavg 9.4 1625478300") ++ host("host31") ++
      Seq("test2.host32.cpu.loadavg 9.4 1625478300") ++ host("host32") ++
      Seq(
        "cpu.loadavg;env=test;host=host1 2.1 1625478240",
        "test.host1.cpu.loadavg 9.4 1625478300",
        "cpu.loadavg;host=host1;env=test 1.3 1625478360",
        "spec_symbols;minus=-;plus=+;percent=%;underscore=_;colon=:;hash=#;forward/0=/0 5.1 1625478360",
        "non-ascii.иван;tagged=true 1.2 1625478240")
  }

  test("tests/plain/test.toml corpus through TCP -> spool -> streaming -> tables") {
    val spool = new SpoolWriter(s"$work/spool", chunkIntervalMs = 100)
    val tcp = new TcpLineServer(spool, port = 0)

    // send the corpus over a real socket
    val sock = new Socket("127.0.0.1", tcp.boundPort)
    val out = sock.getOutputStream
    out.write(corpus.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    out.flush()
    sock.close()

    // wait until all 96 lines are parsed into the spool, then rotate
    val deadline = System.currentTimeMillis() + 10000
    while (spool.pointsWritten.get() < corpus.size && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    assert(spool.pointsWritten.get() == corpus.size)
    tcp.close()
    spool.close() // rotates the chunk -> visible to the stream

    val ingest = new StreamingIngest(spark, s"$work/spool", s"$work/tables", s"$work/ckpt")
    ingest.runAvailableNow()

    // --- verify #1: index rows for test.% (golden incl. tree date 1970-02-12) ---
    val idx = ingest.indexTable()
      .filter(col("path").startsWith("test.") || col("path").endsWith(".test"))
      .select(col("date").cast("string"), col("level"), col("path"))
      .distinct()
      .orderBy("date", "level", "path")
      .collect()
      .map(r => s"${r.getString(0)} ${r.getLong(1)} ${r.getString(2)}")
    assert(idx.toSeq == Seq(
      "1970-02-12 20001 test.",
      "1970-02-12 20002 test.host1.",
      "1970-02-12 20003 test.host1.cpu.",
      "1970-02-12 20004 test.host1.cpu.loadavg",
      "1970-02-12 30004 loadavg.cpu.host1.test",
      "2021-07-05 4 test.host1.cpu.loadavg",
      "2021-07-05 10004 loadavg.cpu.host1.test"))

    // --- verify #2: points for test.% ---
    def fmtPoints(df: org.apache.spark.sql.DataFrame) = df
      .select(col("path"), col("value"), col("time"), col("date").cast("string"), col("timestamp"))
      .orderBy("time", "path")
      .collect()
      .map(r => s"${r.getString(0)} ${r.getDouble(1)} ${r.getLong(2)} ${r.getString(3)} ${r.getLong(4)}")
      .toSeq
    assert(fmtPoints(ingest.pointsTable().filter(col("path").startsWith("test."))) == Seq(
      "test.host1.cpu.loadavg 10.2 1625478240 2021-07-05 0",
      "test.host1.cpu.loadavg 9.4 1625478300 2021-07-05 0"))

    // --- verify #3: reverse points ---
    assert(fmtPoints(ingest.pointsReverseTable().filter(col("path").endsWith(".test"))) == Seq(
      "loadavg.cpu.host1.test 10.2 1625478240 2021-07-05 0",
      "loadavg.cpu.host1.test 9.4 1625478300 2021-07-05 0"))

    // --- verify #4: tagged rows for cpu.loadavg (3 input orderings -> 1 series) ---
    val tag = ingest.taggedTable()
      .filter(col("path").startsWith("cpu.loadavg"))
      .select(col("date").cast("string"), col("tag1"), col("path"),
        array_join(array_sort(col("tags")), ",").as("tags"))
      .distinct().orderBy("date", "tag1", "path")
      .collect()
      .map(r => s"${r.getString(0)} ${r.getString(1)} ${r.getString(2)} [${r.getString(3)}]")
    assert(tag.toSeq == Seq(
      "2021-07-05 __name__=cpu.loadavg cpu.loadavg?env=test&host=host1 [__name__=cpu.loadavg,env=test,host=host1]",
      "2021-07-05 env=test cpu.loadavg?env=test&host=host1 [__name__=cpu.loadavg,env=test,host=host1]",
      "2021-07-05 host=host1 cpu.loadavg?env=test&host=host1 [__name__=cpu.loadavg,env=test,host=host1]"))

    // --- verify #5/#6: tagged points in both points tables (never reversed) ---
    val taggedGolden = Seq(
      "cpu.loadavg?env=test&host=host1 2.1 1625478240 2021-07-05 0",
      "cpu.loadavg?env=test&host=host1 21.4 1625478300 2021-07-05 0",
      "cpu.loadavg?env=test&host=host1 1.3 1625478360 2021-07-05 0")
    assert(fmtPoints(ingest.pointsTable().filter(col("path").startsWith("cpu.loadavg?"))) == taggedGolden)
    assert(fmtPoints(ingest.pointsReverseTable().filter(col("path").startsWith("cpu.loadavg?"))) == taggedGolden)

    // --- verify #7: spec symbols escaping (issues #116/#135) ---
    val specPath = "spec_symbols?colon=%3A&forward%2F0=%2F0&hash=%23&minus=-&percent=%25&plus=%2B&underscore=_"
    val specTags = ingest.taggedTable().filter(col("path") === specPath)
      .select(col("tag1")).orderBy("tag1").collect().map(_.getString(0))
    assert(specTags.toSeq == Seq(
      "__name__=spec_symbols", "colon=:", "forward/0=/0", "hash=#",
      "minus=-", "percent=%", "plus=+", "underscore=_"))
    assert(fmtPoints(ingest.pointsTable().filter(col("path").startsWith("spec_symbols?"))) == Seq(
      s"$specPath 5.1 1625478360 2021-07-05 0"))

    // --- verify #8: non-ASCII path escaping ---
    val naPath = "non-ascii.%D0%B8%D0%B2%D0%B0%D0%BD?tagged=true"
    val naTags = ingest.taggedTable().filter(col("path") === naPath)
      .select("tag1").orderBy("tag1").collect().map(_.getString(0))
    assert(naTags.toSeq == Seq("__name__=non-ascii.иван", "tagged=true"))
    assert(fmtPoints(ingest.pointsTable().filter(col("path").startsWith("non-ascii."))) == Seq(
      s"$naPath 1.2 1625478240 2021-07-05 0"))

    // --- exists-cache: re-ingesting the same corpus adds no index/tagged rows ---
    val idxCount = ingest.indexTable().count()
    val tagCount = ingest.taggedTable().count()
    val spool2 = new SpoolWriter(s"$work/spool", chunkIntervalMs = 100)
    corpus.foreach(l => spool2.writeLine(l, 1625478999L))
    spool2.close()
    ingest.runAvailableNow()
    assert(ingest.indexTable().count() == idxCount, "index must dedup across batches")
    assert(ingest.taggedTable().count() == tagCount, "tagged must dedup across batches")
    // but points are append-only (duplicates absorbed at read time)
    assert(ingest.pointsTable().count() == 2 * corpus.size)
  }

  test("tests/tls corpus: the same corpus over a TLS listener produces the same tables") {
    // tests/tls/test.toml replays the plain corpus against TLS-terminated
    // endpoints; same here with the checked-in PEM pair
    def res(name: String): String =
      new java.io.File(getClass.getClassLoader.getResource(s"tls/$name").toURI).getAbsolutePath
    val serverCtx = graft.core.Tls.serverContext(res("server.crt"), res("server.key"))
    val clientCtx = graft.core.Tls.clientContext(Seq(res("server.crt")))

    val tlsWork = Files.createTempDirectory("graft-e2e-tls")
    val spool = new SpoolWriter(s"$tlsWork/spool", chunkIntervalMs = 100)
    val tcp = new TcpLineServer(spool, port = 0, tls = Some(serverCtx))
    val sock = clientCtx.getSocketFactory.createSocket("localhost", tcp.boundPort)
    sock.getOutputStream.write(corpus.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    sock.getOutputStream.flush()
    sock.close()
    val deadline = System.currentTimeMillis() + 10000
    while (spool.pointsWritten.get() < corpus.size && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    assert(spool.pointsWritten.get() == corpus.size)
    tcp.close()
    spool.close()

    val ingest = new StreamingIngest(spark, s"$tlsWork/spool", s"$tlsWork/tables", s"$tlsWork/ckpt")
    ingest.runAvailableNow()
    // spot goldens: the index tree rows and the escaped tagged path arrive
    // exactly as over plaintext
    val idx = ingest.indexTable()
      .filter(col("path").startsWith("test.") || col("path").endsWith(".test"))
      .select(col("date").cast("string"), col("level"), col("path")).distinct()
      .orderBy("date", "level", "path").collect()
      .map(r => s"${r.getString(0)} ${r.getLong(1)} ${r.getString(2)}")
    assert(idx.toSeq == Seq(
      "1970-02-12 20001 test.",
      "1970-02-12 20002 test.host1.",
      "1970-02-12 20003 test.host1.cpu.",
      "1970-02-12 20004 test.host1.cpu.loadavg",
      "1970-02-12 30004 loadavg.cpu.host1.test",
      "2021-07-05 4 test.host1.cpu.loadavg",
      "2021-07-05 10004 loadavg.cpu.host1.test"))
    assert(ingest.pointsTable().count() == corpus.size)
    assert(ingest.taggedTable().filter(
      col("path") === "non-ascii.%D0%B8%D0%B2%D0%B0%D0%BD?tagged=true").count() == 2)
  }
}
