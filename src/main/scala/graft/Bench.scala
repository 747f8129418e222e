package graft

import org.apache.spark.sql.SparkSession

import graft.core.Sessions

/**
 * Benchmark main (driver contract): runs every SparkEntry query against
 * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query wall times.
 * The same line is also written to SPARK_GRAFT_BENCH_OUT (default
 * bench_out.json in the cwd) so the result survives any log wrapping of
 * stdout by the build tool.
 *
 * Timing methodology: one untimed warmup action first (JIT + codegen +
 * session init would otherwise land on the first query), then each query
 * is fully materialized through the noop sink — count() would let column
 * pruning skip most of the scan work for non-aggregating queries.
 *
 * INTERLEAVED passes: the whole suite runs SPARK_GRAFT_BENCH_RUNS times
 * (default 2) as full passes — every query once, then every query again —
 * and each query reports its MINIMUM across passes. Interleaving matters:
 * back-to-back per-query repeats sample the SAME transient (one GC storm
 * or page-cache eviction hits both runs), so repeats agreed while
 * round-over-round numbers on byte-identical code still swung 0.39x-1.61x
 * (measured, rounds 8 vs 9). Spreading a query's runs across the session
 * makes the two samples independent draws, and min-across-passes then
 * converges on the steady-state time.
 *
 * ADAPTIVE re-runs: after the base passes, queries whose two SMALLEST
 * times still disagree by more than 1.5x are noise-dominated and take
 * extra runs — again interleaved across the noisy set — until the two
 * smallest agree or SPARK_GRAFT_BENCH_MAX_RUNS (default 4) per query is
 * reached. Heavy rows (best observed time > 2 s) additionally get at
 * least THREE interleaved samples regardless of agreement: same-code
 * round-12 artifacts disagreed by up to 1.5x on exactly these rows with
 * only two samples, which made the 2x regression gate mushy — min-of-3
 * bounds that wobble where it costs the most absolute seconds. Comparing the two smallest (not max/min) is what lets an
 * agreeing extra run RELEASE the query: the old max/min gate kept the
 * original outlier in the window, so once runs disagreed no number of
 * agreeing runs could ever satisfy it and every noisy query burned to
 * maxRuns.
 *
 * A failing query is NOT silently timed as ~0 s: it is reported in a
 * "failed" list, its time excluded from the total, and the process exits
 * non-zero so a broken query can never inflate the round's apparent speed.
 */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val spark = Sessions.local(cpus.toInt, "graft-bench")

    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warmup: session init, codegen, and parquet footer reads for every
    // base table (a count reads footers/metadata, not the data pages —
    // real column scans stay inside the timed queries)
    try {
      materialize(SparkEntry.queries("q1_agg")(spark, sfDir))
      for (t <- Seq("lineitem", "orders", "events", "documents", "embeddings"))
        spark.read.parquet(s"$sfDir/$t.parquet").count()
    } catch { case e: Throwable => System.err.println(s"[bench] warmup failed: $e") }

    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    // SPARK_GRAFT_BENCH_ONLY=q1_agg,s_ann_lsh limits the run to named
    // queries — an iteration aid; the driver never sets it
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val maxRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_RUNS", "4").toInt.max(runs)
    val suite = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }

    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Option[Double] = {
      val t0 = System.nanoTime()
      val r =
        try { materialize(fn(spark, sfDir)); Some((System.nanoTime() - t0) / 1e9) }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] QUERY FAILED $name: $e")
            None
        }
      // release operator-pinned checkpoint blocks between queries
      // (graft.core.Blocks ownership convention) — without this a
      // long multi-query session accumulates block-manager state and
      // late queries time up to ~3x slower than isolated runs
      graft.core.Blocks.releaseAll(spark)
      r
    }

    val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    val failedSet = scala.collection.mutable.Set.empty[String]
    // noise-dominated = the two smallest observed times disagree >1.5x
    // (max/min would pin the original outlier in the window forever)
    def noisy(name: String): Boolean = {
      val sorted = times(name).sorted
      sorted.length >= 2 && sorted(0) > 0 && sorted(1) / sorted(0) > 1.5
    }
    // base passes: whole suite per pass, so a query's samples are spread
    // across the session instead of sharing one transient
    for (_ <- 1 to runs; (name, fn) <- suite if !failedSet(name))
      once(name, fn) match {
        case Some(t) => times(name) :+= t
        case None    => failedSet += name
      }
    // heavy = best time above 2 s with fewer than 3 samples: absolute
    // seconds dominate the suite total there, so buy the third sample
    def heavy(name: String): Boolean = {
      val t = times(name)
      t.nonEmpty && t.min > 2.0 && t.length < 3
    }
    // adaptive passes: still interleaved — one extra run per due query
    // per sweep, until its two smallest agree (and heavy rows hold 3+
    // samples) or maxRuns is spent
    var sweeping = true
    while (sweeping) {
      val due = suite.filter { case (name, _) =>
        !failedSet(name) && times(name).length < maxRuns &&
          (noisy(name) || heavy(name))
      }
      sweeping = due.nonEmpty
      for ((name, fn) <- due)
        once(name, fn) match {
          case Some(t) => times(name) :+= t
          case None    => failedSet += name
        }
    }
    // a query that failed ANY run is reported failed — retries may not
    // hide flakiness
    val results = suite.map { case (name, _) =>
      val t = times(name)
      (name, if (t.isEmpty) 0.0 else t.min, !failedSet(name) && t.nonEmpty)
    }
    val passed = results.filter(_._3)
    val failed = results.filterNot(_._3).map(_._1)
    val qs = passed.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = passed.map(_._2).sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir"}"""
    println(line)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] could not write $outFile: $e") }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
