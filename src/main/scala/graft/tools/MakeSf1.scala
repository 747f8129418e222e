package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Sessions

/**
 * Derived sf1 builder: the driver ships sf0.001/sf0.01/sf0.1 only, so
 * whole-suite scale evidence one decade up needs a constructed corpus.
 * Each sf0.1 table is replicated 10x with structure-preserving,
 * deterministic transforms — the goal is "the same per-replica
 * statistics at 10x the volume", not new semantics:
 *
 *  - relational tables: every key column offsets by replica * 10^9,
 *    consistently across FK pairs (orders.o_orderkey and
 *    lineitem.l_orderkey shift together, etc.), so joins behave like a
 *    corpus with 10x the entities; dims (nation/region) stay shared.
 *  - events: event_id offsets (version uniqueness); series identity
 *    (event_type x user_id % 10) is intentionally preserved — the
 *    metrics path sees the SAME series with a 10x longer history,
 *    which is how a metrics corpus actually grows.
 *  - documents: replica 0 is verbatim; replica i suffixes every word
 *    with _ri, so each replica keeps exactly its internal near-dup /
 *    shingle structure while replica vocabularies stay disjoint — a
 *    corpus growing at constant duplication rate with growing
 *    vocabulary. (Simhash signatures of disjoint vocabularies still
 *    collide pseudo-randomly, so pigeonhole bucket density grows with
 *    corpus size — the effect simhashPairsAuto exists to absorb.)
 *  - embeddings: replica i rotates the 64 components by i positions —
 *    norms and intra-replica cosine structure are preserved exactly,
 *    cross-replica vectors decorrelate like fresh draws.
 *
 * Usage: graft.tools.MakeSf1 [outDir=/tmp/sf1graft]
 */
object MakeSf1 {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/sf1graft")
    val src = "/root/testdata/sf0.1"
    val spark = Sessions.local(32, "graft-make-sf1")

    val OFF = 1000000000L
    def reps(f: Int => DataFrame): DataFrame = (0 until 10).map(f).reduce(_ union _)
    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"wrote $name")
    }

    def t(name: String) = spark.read.parquet(s"$src/$name.parquet")

    // dims shared
    write("region", t("region"))
    write("nation", t("nation"))

    def shift(df: DataFrame, keys: String*)(i: Int): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(i * OFF)))

    write("customer", reps(shift(t("customer"), "c_custkey")))
    write("supplier", reps(shift(t("supplier"), "s_suppkey")))
    write("part", reps(shift(t("part"), "p_partkey")))
    write("orders", reps(shift(t("orders"), "o_orderkey", "o_custkey")))
    write("lineitem", reps(shift(t("lineitem"), "l_orderkey", "l_partkey", "l_suppkey")))
    write("events", reps(shift(t("events"), "event_id")))

    write("documents", reps { i =>
      val d = shift(t("documents"), "doc_id")(i)
      if (i == 0) d
      else d.withColumn("text",
        array_join(transform(split(col("text"), "\\s+"),
          w => concat(w, lit(s"_r$i"))), " "))
    })

    write("embeddings", reps { i =>
      val d = shift(t("embeddings"), "vec_id")(i)
      if (i == 0) d
      else d.withColumn("embedding",
        concat(slice(col("embedding"), i + 1, 64 - i), slice(col("embedding"), 1, i)))
    })

    spark.stop()
  }
}
