package graft

import org.scalatest.funsuite.AnyFunSuite

/** The custom expressions registered through SparkSessionExtensions are
  * callable from SQL and agree with the built-ins they accelerate. */
class ExtensionsSpec extends AnyFunSuite with SharedSpark {

  test("every query has an oracle and vice versa (the driver's correctness contract)") {
    val q = graft.SparkEntry.queries.keySet
    val o = graft.SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${q -- o}")
    assert((o -- q).isEmpty, s"oracles without query: ${o -- q}")
  }

  test("fast_md5 / md5_head60 / simhash60 / shingle_hashes / minhash_sig from SQL") {
    val r = spark.sql("""
      SELECT fast_md5('hello world') AS fm,
             md5('hello world') AS builtin,
             md5_head60('w') AS h60,
             conv(substring(md5('w'), 1, 15), 16, 10) AS h60ref,
             simhash60('a b c a') AS sim,
             size(shingle_hashes('a b c d', 3)) AS nsh,
             size(minhash_sig('a b c d', 16, 3)) AS nmh
    """).head()
    assert(r.getString(0) == r.getString(1), "fast_md5 must equal builtin md5")
    assert(r.getLong(2).toString == r.getString(3), "md5_head60 must equal conv(substring(md5))")
    assert(r.getLong(4) >= 0, "simhash is 60-bit non-negative")
    assert(r.getInt(5) == 2 && r.getInt(6) == 16)
    // literal-arg validation
    intercept[Exception](spark.sql("SELECT minhash_sig('x', 'not-an-int')").collect())
  }

  test("ngram_hashes / script_mix from SQL") {
    val r = spark.sql("""
      SELECT ngram_hashes('a b a b', 2) AS ng,
             transform(sequence(1, 3), i ->
               xxhash64(concat_ws(' ', slice(split('a b a b', ' '), i, 2)))) AS ngref,
             script_mix('ab Яб 日 9!') AS sm
    """).head()
    assert(r.getSeq[Long](0) == r.getSeq[Long](1), "ngram_hashes must equal the columnar form")
    // 'ab Яб 日 9!': latin a,b = 2; cyrillic Я,б = 2; cjk 日 = 1; digit 9 = 1
    assert(r.getSeq[Long](2) == Seq(2L, 2L, 0L, 0L, 0L, 1L, 1L), s"sm: ${r.getSeq[Long](2)}")
    val g = spark.sql("SELECT gopher_stats('the cat...\n- be #')").head().getSeq[Long](0)
    // 5 words, 13 non-space chars, 3 alpha words, 2 lines, 1 bullet,
    // 1 ...-terminated line, 1 hash, 1 ells, 2 distinct stops (the, be)
    assert(g == Seq(5L, 13L, 3L, 2L, 1L, 1L, 1L, 1L, 2L), s"gopher: $g")
  }

  test("repetition_stats / text_stats from SQL") {
    val r = spark.sql("""
      SELECT repetition_stats('a b a\na b a') AS rep,
             text_stats('The cat, the dog!') AS ts
    """).head()
    assert(r.getSeq[Long](0) == Seq(6L, 2L, 4L, 2L, 2L, 1L), s"rep: ${r.getSeq[Long](0)}")
    // 'The cat, the dog!': len 17, 4 words, 2 stops ('the' x2),
    // 2 punct (comma, bang), en_hits 2, de/es 0, 6 subwords
    // (The|cat|,|the|dog|!)
    assert(r.getSeq[Long](1) == Seq(17L, 4L, 2L, 2L, 2L, 0L, 0L, 6L), s"ts: ${r.getSeq[Long](1)}")
  }
}
