package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark

/** saltedJoin: row-identical to the plain inner join, with the salt
  * actually present in the shuffle key. */
class JoinOpsSpec extends AnyFunSuite with SharedSpark {

  test("saltedJoin equals the plain inner join, including a hot key and an unmatched key") {
    val ss = spark; import ss.implicits._
    // key 1 is hot (8 fact rows), key 99 has no dim, dim 3 has no facts
    val facts = ((1 to 8).map(i => (1L, i.toLong)) ++ Seq((2L, 100L), (99L, 101L)))
      .toDF("k", "fid")
    val dims = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "name")
    val salted = JoinOps.saltedJoin(facts, dims, "k", col("fid"), salt = 4)
      .orderBy("k", "fid").collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val plain = facts.join(dims, "k")
      .orderBy("k", "fid").collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(salted == plain && plain.size == 9)
  }

  test("saltedJoin shuffles on (key, salt): the salt column reaches the join keys") {
    val ss = spark; import ss.implicits._
    val facts = Seq((1L, 10L)).toDF("k", "fid")
    val dims = Seq((1L, "a")).toDF("k", "name")
    val plan = JoinOps.saltedJoin(facts, dims, "k", col("fid"), salt = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("_salt"), s"salt key missing from plan:\n$plan")
  }

  test("saltedJoin rejects inputs that already carry a _salt column") {
    val ss = spark; import ss.implicits._
    val facts = Seq((1L, 10L, 7)).toDF("k", "fid", "_salt")
    val dims = Seq((1L, "a")).toDF("k", "name")
    val e = intercept[IllegalArgumentException] {
      JoinOps.saltedJoin(facts, dims, "k", col("fid"), salt = 4)
    }
    assert(e.getMessage.contains("_salt"))
    val e2 = intercept[IllegalArgumentException] {
      JoinOps.saltedJoin(dims, facts, "k", col("name"), salt = 4)
    }
    assert(e2.getMessage.contains("dims"))
  }
}
