package graft.tools

import graft.core.Sessions

/**
 * Dump `explain("formatted")` for EVERY SparkEntry query into PLANS.md —
 * the plan-shape evidence backing the scale claims (pushdown, pruning,
 * broadcast choices, no cartesians, id-only candidate shuffles).
 * Regenerate after plan-affecting changes:
 *   sbt "runMain graft.tools.PlanDump /root/testdata/sf0.01 PLANS.md"
 *
 * The query list is SparkEntry.queries.keys itself — a hand-maintained
 * headline list let plan evidence lag the query surface (round 7
 * shipped m_media_phash with no dump); PlansLockstepSpec asserts the
 * one-section-per-query invariant so it cannot recur.
 *
 * The dump is reproducible: a run over unchanged code rewrites PLANS.md
 * byte for byte, so `git diff PLANS.md` shows only real plan changes.
 */
object PlanDump {

  /** Per-run counters in a plan: expression ids (`#1234`), exchange
    * `plan_id`s, lambda variable ids (`x_13`), RDD ids and the JVM
    * names of Scala lambdas (`$Lambda$5969/0x00007f6b...@1babd534`). */
  private val Counters = Seq("(#)(\\d+)", "(plan_id=)(\\d+)", "(lambda [A-Za-z]+_)(\\d+)", "(RDD\\[)(\\d+)",
    "(\\$Lambda\\$)(\\d+)/0x\\p{XDigit}+@\\p{XDigit}+").map(_.r)

  /** `plan` with each counter renumbered from 0 in order of first
    * appearance (a lambda's address and hash dropped): stable across
    * runs, and two references to one id still read alike. */
  private def stable(plan: String): String =
    Counters.foldLeft(plan) { (p, counter) =>
      val seen = scala.collection.mutable.Map.empty[String, Int]
      counter.replaceAllIn(p, m =>
        scala.util.matching.Regex.quoteReplacement(m.group(1) + seen.getOrElseUpdate(m.group(2), seen.size)))
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = Sessions.local(4, "graft-plan-dump")

    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of every driver query\n\n")
    sb.append(s"Generated by `graft.tools.PlanDump` over `$sfDir` — one section\n")
    sb.append("per `SparkEntry.queries` key (PlansLockstepSpec enforces the\n")
    sb.append("invariant). The properties PlanSpec asserts (pushdown, pruning,\n")
    sb.append("broadcasts, no cartesians, no array-typed shuffle keys, kernels\n")
    sb.append("never inside Filters) are visible here in full.\n")
    for (q <- names) {
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb.append(s"\n## $q\n\n```\n${stable(plan)}```\n")
      // queries whose construction eagerly pins blocks (localCheckpoint)
      // must not accumulate across 179 plan builds
      graft.core.Blocks.releaseAll(spark)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"wrote ${names.size} plans to $out")
    spark.stop()
  }
}
