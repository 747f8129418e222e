package graft.streaming


import graft.core.{DropFilter, Sessions}
import graft.sources._

/**
 * Production entrypoint: the full ingest engine in one process —
 * protocol front-ends (TCP/UDP plaintext, pickle, HTTP telegraf +
 * prometheus remote write, framed Store/StoreSync) feeding a spool dir,
 * and the Structured Streaming job fanning micro-batches out to the
 * points / points_reverse / index / tagged (+ legacy tree/series)
 * tables.
 *
 * Usage:
 *   graft.streaming.IngestMain <workDir> [--config FILE.toml]
 *     [--tcp PORT] [--udp PORT] [--pickle PORT] [--http PORT]
 *     [--store PORT] [--trigger-ms N] [--chunk-ms N] [--once]
 *
 * `--config` boots from a reference-shaped TOML file (see EngineConfig;
 * the same sections as /root/reference/carbon/config.go) — receiver
 * enablement/ports, drop windows, convert_to_tagged templates,
 * blacklist, cache-ttl, uploader table types. Explicit port flags
 * override the config. `--once` drains the spool and exits (backfill
 * mode); otherwise the stream runs until SIGTERM. Port 0 binds
 * ephemeral (printed on stdout).
 */
object IngestMain {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(sys.error("usage: IngestMain <workDir> [flags]"))
    def flag(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }
    val once = args.contains("--once")

    val cfg = flag("--config").map(EngineConfig.load)
    def receiver(fromCfg: EngineConfig.Config => EngineConfig.Receiver): EngineConfig.Receiver =
      cfg.map(fromCfg).getOrElse(EngineConfig.Receiver(enabled = false, None, DropFilter.Empty))

    val triggerMs = flag("--trigger-ms").map(_.toLong).getOrElse(1000L)
    val chunkMs = flag("--chunk-ms").map(_.toLong)
      .orElse(cfg.map(_.chunkIntervalMs)).getOrElse(1000L)
    val tagConfig = cfg.map(_.tagConfig).getOrElse(graft.core.GraphiteTags.Disabled)

    // [data] path is the reference's chunk directory (carbon/config.go
    // dataConfig.Path); absent -> <workDir>/spool
    val spoolDir = cfg.flatMap(_.dataPath).getOrElse(s"$work/spool")
    val spool = new SpoolWriter(spoolDir, chunkIntervalMs = chunkMs,
      chunkMaxBytes = cfg.map(_.chunkMaxBytes).getOrElse(0L), // 0 = unlimited (writer.go:148)
      autoInterval = cfg.flatMap(_.chunkAutoInterval),
      compression = flag("--compress").orElse(cfg.map(_.compression)).getOrElse("none"),
      compressionLevel = cfg.flatMap(_.compressionLevel))
    val rotator = new Thread(() => {
      while (true) { Thread.sleep(chunkMs); spool.maybeRotate() }
    }, "spool-rotator")
    rotator.setDaemon(true)
    rotator.start()

    val servers = Seq.newBuilder[AutoCloseable]
    val debugRings = Map.newBuilder[String, graft.core.DroppedRing]
    def port(flagName: String, r: EngineConfig.Receiver): Option[Int] =
      flag(flagName).map(_.toInt).orElse(if (r.enabled) r.port.orElse(Some(0)) else None)

    val tcpR = receiver(_.tcp)
    port("--tcp", tcpR).foreach { p =>
      val s = new TcpLineServer(spool, p, tagConfig, tcpR.drops, tls = tcpR.tlsContext,
        readTimeoutMs = tcpR.readTimeoutMs)
      servers += s
      debugRings += "tcp" -> s.droppedRing
      println(s"tcp listening on ${s.boundPort}")
    }
    val udpR = receiver(_.udp)
    port("--udp", udpR).foreach { p =>
      val s = new UdpLineServer(spool, p, tagConfig, udpR.drops,
        logIncomplete = udpR.logIncomplete); servers += s
      debugRings += "udp" -> s.droppedRing
      println(s"udp listening on ${s.boundPort}")
    }
    val pickleR = receiver(_.pickle)
    port("--pickle", pickleR).foreach { p =>
      val s = new PickleServer(spool, p, tagConfig, pickleR.drops); servers += s
      debugRings += "pickle" -> s.droppedRing
      println(s"pickle listening on ${s.boundPort}")
    }
    // the reference's [grpc] section boots the REAL gRPC Carbon service;
    // --store additionally offers the framed-TCP transport stand-in
    val storeR = receiver(_.store)
    port("--grpc", storeR).foreach { p =>
      val s = new GrpcStoreServer(spool, p, tagConfig, storeR.drops); servers += s
      debugRings += "grpc" -> s.droppedRing
      println(s"grpc (Carbon service) listening on ${s.boundPort}")
    }
    flag("--store").map(_.toInt).foreach { p =>
      val s = new FramedStoreServer(spool, p, tagConfig, storeR.drops); servers += s
      debugRings += "store" -> s.droppedRing
      println(s"store (framed) listening on ${s.boundPort}")
    }
    // Shared HTTP listener: each endpoint applies ITS OWN receiver's drop
    // windows; the listen port comes from whichever section is enabled
    // (prometheus wins if both name one). Also hosts the per-receiver
    // /debug/receive/<type>/dropped/ routes and the admin cache clear.
    val promR = receiver(_.prometheus)
    val telegrafR = receiver(_.telegraf)
    val httpEnabled = promR.enabled || telegrafR.enabled
    val httpPort = flag("--http").map(_.toInt)
      .orElse(if (promR.enabled) promR.port.orElse(Some(0)) else None)
      .orElse(if (telegrafR.enabled) telegrafR.port.orElse(Some(0)) else None)
      .orElse(if (httpEnabled) Some(0) else None)
    // the streaming job is built after the servers; route the admin
    // cache-clear through a holder so the HTTP front-end can reach it
    @volatile var ingestHolder: StreamingIngest = null
    httpPort.foreach { p =>
      val s = new HttpIngestServer(spool, p, tagConfig,
        cfg.map(_.telegrafConcat).getOrElse("_"),
        promDrops = promR.drops, telegrafDrops = telegrafR.drops,
        debugRings = debugRings.result(),
        onCacheClear = () => Option(ingestHolder).foreach(_.clearExistsCache()),
        tls = promR.tlsContext.orElse(telegrafR.tlsContext))
      servers += s
      println(s"http (telegraf + prometheus) listening on ${s.boundPort}")
    }
    val collector = new SelfMetricsCollector(spool,
      prefix = cfg.map(_.metricPrefix).getOrElse("carbon.agents.graft"),
      intervalMs = cfg.map(_.metricIntervalMs).getOrElse(60000L),
      endpoint = cfg.map(_.metricEndpoint).getOrElse("local"))
    servers += collector

    // [common] max-cpu (the reference's GOMAXPROCS): worker threads for
    // the local session; the env var wins for test harness control
    val cpus = sys.env.get("SPARK_GRAFT_CPUS")
      .orElse(cfg.flatMap(_.maxCpu).map(_.toString))
      .getOrElse("4")
    val spark = Sessions.local(cpus.toInt, "graft-ingest")

    val ingest = new StreamingIngest(spark, spoolDir, s"$work/tables", s"$work/ckpt",
      blacklist = cfg.flatMap(_.blacklist),
      disableDailyIndex = cfg.exists(_.disableDailyIndex),
      utcDate = cfg.forall(_.utcDate),
      cacheTtlDays = cfg.map(_.cacheTtlDays).getOrElse(1),
      ignoredTaggedMetrics = cfg.map(_.ignoredTaggedMetrics).getOrElse(Set.empty),
      legacyTables = cfg.map(_.legacyTables).getOrElse(Set.empty),
      hashCacheKeys = cfg.exists(_.hashCacheKeys),
      // online background-merge analogue; --compact-every 0 disables
      compactEveryBatches =
        flag("--compact-every").map(_.toInt).orElse(Some(300)).filter(_ > 0),
      treeDate = cfg.flatMap(_.treeDate))
    ingestHolder = ingest
    // SIGUSR1 clears the exists-caches like the reference
    // (carbon-clickhouse.go:146-148); unavailable JVMs just skip it
    scala.util.Try(sun.misc.Signal.handle(new sun.misc.Signal("USR1"),
      (_: sun.misc.Signal) => ingest.clearExistsCache()))
    spark.streams.addListener(new IngestMetricsListener(spool, cacheStats = () => ingest.existsCacheStats))
    if (once) {
      spool.rotate()
      ingest.runAvailableNow()
      println(s"points=${ingest.pointsTable().count()} index=${ingest.indexTable().count()} tagged=${ingest.taggedTable().count()}")
    } else {
      val q = ingest.start(triggerMs)
      sys.addShutdownHook {
        q.stop()
        servers.result().foreach(_.close())
        spool.close()
      }
      println("streaming started")
      q.awaitTermination()
    }
    spark.stop()
  }
}
