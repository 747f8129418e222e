package graft.streaming

import graft.core.{Blacklist, DropFilter, GraphiteTags, Toml}

/**
 * TOML-driven engine configuration mapping the reference's config
 * surface (/root/reference/carbon/config.go:38-302, README.md) onto the
 * Spark engine's components. The same file shape as the reference's
 * deployments boots this engine — see tests/plain/carbon-clickhouse
 * .conf.tpl for the canonical example:
 *
 *   [data]     path, chunk-interval, chunk-max-size, utc-date
 *   [upload.X] type (points | points-reverse | index | tagged | tree |
 *              series | series-reverse), zero-timestamp, cache-ttl,
 *              ignored-patterns, ignored-tagged-metrics,
 *              disable-daily-index
 *   [tcp]/[udp]/[pickle]/[grpc]/[prometheus]/[telegraf_http_json]
 *              listen, enabled, drop-future, drop-past, drop-longer-than
 *   [convert_to_tagged] enabled, separator, tags, templates
 *
 * ClickHouse-transport keys (url, timeout, threads, tls, compress-data)
 * are accepted and ignored: the sink here is the parquet table layout,
 * not an HTTP insert.
 */
object EngineConfig {

  final case class Receiver(
      enabled: Boolean,
      port: Option[Int],
      drops: DropFilter,
      // listener-side TLS material, shaped like the reference's tls
      // cert/key pairs (tests/tls `certificates = [{cert, key}]`)
      tlsCert: Option[String] = None,
      tlsKey: Option[String] = None,
      readTimeoutMs: Option[Long] = None, // [tcp] read-timeout
      logIncomplete: Boolean = false) {   // [udp] log-incomplete
    def tlsContext: Option[javax.net.ssl.SSLContext] =
      for (c <- tlsCert; k <- tlsKey) yield graft.core.Tls.serverContext(c, k)
  }

  final case class Upload(
      name: String,
      typ: String,
      zeroTimestamp: Boolean,
      cacheTtlDays: Option[Int],
      ignoredPatterns: Seq[String],
      ignoredTaggedMetrics: Seq[String],
      disableDailyIndex: Boolean,
      hash: String,
      date: Option[String]) // tree-row date, "YYYY-MM-DD" (uploader/config.go:40)

  final case class Config(
      metricPrefix: String,
      metricIntervalMs: Long,
      metricEndpoint: String, // [common] metric-endpoint: local | tcp://h:p | udp://h:p
      maxCpu: Option[Int],    // [common] max-cpu -> local[n] worker threads
      dataPath: Option[String],
      chunkIntervalMs: Long,
      chunkMaxBytes: Long,
      compression: String,
      compressionLevel: Option[Int], // [data] compression-level
      chunkAutoInterval: Option[graft.core.ChunkAutoInterval],
      utcDate: Boolean,
      tcp: Receiver,
      udp: Receiver,
      pickle: Receiver,
      store: Receiver, // the reference's [grpc] section (transport diverged)
      prometheus: Receiver,
      telegraf: Receiver,
      telegrafConcat: String,
      uploads: Seq[Upload],
      tagConfig: GraphiteTags.TagConfig) {

    def upload(typ: String): Option[Upload] = uploads.find(_.typ == typ)

    /** Blacklist compiled from the points uploader's ignored-patterns. */
    def blacklist: Option[Blacklist] = {
      val pats = uploads.filter(u => u.typ == "points" || u.typ == "points-reverse")
        .flatMap(_.ignoredPatterns)
      if (pats.isEmpty) None else Some(new Blacklist(pats))
    }

    /** Union of cache-ttls in days (the exists-cache window must cover
      * the longest-lived cache); reference default is 12h -> 1 day here. */
    def cacheTtlDays: Int =
      uploads.flatMap(_.cacheTtlDays).reduceOption(_ max _).getOrElse(1)

    def disableDailyIndex: Boolean = upload("index").exists(_.disableDailyIndex)

    def ignoredTaggedMetrics: Set[String] =
      uploads.filter(_.typ == "tagged").flatMap(_.ignoredTaggedMetrics).toSet

    /** Legacy table types to emit alongside the modern four. */
    def legacyTables: Set[String] =
      uploads.map(_.typ).filter(Set("tree", "series", "series-reverse")).toSet

    /** The reference's per-uploader `hash = "city64"` option: store an
      * 8-byte hash as the exists-cache key (uploader/hash.go:9-25). */
    def hashCacheKeys: Boolean = uploads.exists(u => u.hash.nonEmpty && u.hash != "no")

    /** Configurable tree-row date (`date = "YYYY-MM-DD"` on the index /
      * tree uploader, uploader/config.go:38-44, index.go:155-158);
      * absent = the magic day 42 (1970-02-12, index.go:25). The
      * reference parses in LOCAL time; UTC here matches utc-date mode. */
    def treeDate: Option[java.sql.Date] =
      uploads.filter(u => u.typ == "index" || u.typ == "tree")
        .flatMap(_.date).headOption.map(java.sql.Date.valueOf)
  }

  def load(path: String): Config =
    parse(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))

  def parse(text: String): Config = {
    val doc = Toml.parse(text)

    def durSec(table: String, key: String): Option[Long] =
      Toml.str(doc, table, key).map(Toml.durationMs(_) / 1000).filter(_ > 0)

    def receiver(table: String): Receiver = Receiver(
      enabled = Toml.bool(doc, table, "enabled"),
      port = Toml.str(doc, table, "listen").flatMap(portOf),
      drops = DropFilter(
        dropFutureSec = durSec(table, "drop-future"),
        dropPastSec = durSec(table, "drop-past"),
        dropLongerThan = Toml.long(doc, table, "drop-longer-than").map(_.toInt).filter(_ > 0)),
      tlsCert = Toml.str(doc, s"$table.tls", "cert"),
      tlsKey = Toml.str(doc, s"$table.tls", "key"),
      readTimeoutMs = Toml.str(doc, table, "read-timeout").map(Toml.durationMs).filter(_ > 0),
      logIncomplete = Toml.bool(doc, table, "log-incomplete"))

    val uploads = Toml.tablesUnder(doc, "upload").map { t =>
      Upload(
        name = t.stripPrefix("upload."),
        typ = Toml.str(doc, t, "type").getOrElse("points"),
        zeroTimestamp = Toml.bool(doc, t, "zero-timestamp"),
        cacheTtlDays = Toml.str(doc, t, "cache-ttl")
          .map(s => math.max(1, math.ceil(Toml.durationMs(s) / 86400000.0).toInt)),
        ignoredPatterns = Toml.strings(doc, t, "ignored-patterns"),
        ignoredTaggedMetrics = Toml.strings(doc, t, "ignored-tagged-metrics"),
        disableDailyIndex = Toml.bool(doc, t, "disable-daily-index"),
        hash = Toml.str(doc, t, "hash").getOrElse(""),
        date = Toml.str(doc, t, "date").filter(_.nonEmpty))
    }

    val tagConfig =
      if (!Toml.bool(doc, "convert_to_tagged", "enabled")) GraphiteTags.Disabled
      else GraphiteTags.configure(
        enabled = true,
        separator = Toml.str(doc, "convert_to_tagged", "separator").getOrElse("_"),
        tags = Toml.strings(doc, "convert_to_tagged", "tags"),
        templates = Toml.strings(doc, "convert_to_tagged", "templates"))

    Config(
      // {host} placeholder resolved like the reference (carbon/config.go
      // MetricPrefix default "carbon.agents.{host}")
      metricPrefix = Toml.str(doc, "common", "metric-prefix")
        .getOrElse("carbon.agents.{host}")
        .replace("{host}",
          scala.util.Try(java.net.InetAddress.getLocalHost.getHostName.replace('.', '_'))
            .getOrElse("localhost")),
      metricIntervalMs = Toml.str(doc, "common", "metric-interval")
        .map(Toml.durationMs).getOrElse(60000L),
      metricEndpoint = Toml.str(doc, "common", "metric-endpoint").getOrElse("local"),
      maxCpu = Toml.long(doc, "common", "max-cpu").map(_.toInt).filter(_ > 0),
      dataPath = Toml.str(doc, "data", "path"),
      chunkIntervalMs = Toml.str(doc, "data", "chunk-interval").map(Toml.durationMs).getOrElse(1000L),
      // Size semantics (helper/config/size.go): bare int = bytes, k/m/g
      // suffixes; 0 / absent = no size limit (writer.go:148 `maxSize == 0`)
      chunkMaxBytes = Toml.sizeBytes(doc, "data", "chunk-max-size").getOrElse(0L),
      // [data] compression (carbon/config.go:95): reference takes
      // none|lz4 (+level for lz4hc) — honored as real lz4 chunks
      // (SpoolWriter.Lz4BlockOutputStream); gzip is an extra option
      compression = Toml.str(doc, "data", "compression").getOrElse("none") match {
        case ok @ ("none" | "gzip" | "lz4") => ok
        case other => throw new IllegalArgumentException(
          s"Compression algorithm '$other' not supported")
      },
      compressionLevel = Toml.long(doc, "data", "compression-level").map(_.toInt).filter(_ > 0),
      chunkAutoInterval = Toml.str(doc, "data", "chunk-auto-interval").filter(_.trim.nonEmpty)
        .map(s => graft.core.ChunkAutoInterval.parse(s,
          Toml.str(doc, "data", "chunk-interval").map(Toml.durationMs).getOrElse(1000L))),
      utcDate = Toml.bool(doc, "data", "utc-date", default = true),
      tcp = receiver("tcp"),
      udp = receiver("udp"),
      pickle = receiver("pickle"),
      store = receiver("grpc"),
      prometheus = receiver("prometheus"),
      telegraf = receiver("telegraf_http_json"),
      telegrafConcat = Toml.str(doc, "telegraf_http_json", "concat").getOrElse("_"),
      uploads = uploads,
      tagConfig = tagConfig)
  }

  /** ":2003" / "0.0.0.0:2003" / "host:0" -> port. */
  private def portOf(listen: String): Option[Int] = {
    val idx = listen.lastIndexOf(':')
    if (idx < 0) None
    else scala.util.Try(listen.substring(idx + 1).toInt).toOption
  }
}
