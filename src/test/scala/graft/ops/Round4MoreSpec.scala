package graft.ops

import graft.GraftSpark
import org.scalatest.funsuite.AnyFunSuite

/** In-JVM recomputation checks for the round-4 batch-2 corpus ops: the
  * chunking kernel behind the boilerplate scrub, the URL-normalization
  * rewrite chain, and the discrete per-group quantile rank. The DuckDB
  * oracle is the cross-engine gate; these pin the semantics locally on
  * literal inputs.
  */
class Round4MoreSpec extends AnyFunSuite with GraftSpark {

  override protected def sparkOverrides: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> "3")

  test("chunking: 8-token windows cover the token list exactly once") {
    // 20 tokens -> chunks of 8, 8, 4; reassembly round-trips the text
    val chunks = spark.sql(
      """SELECT transform(sequence(0, (size(tks)-1) div 8),
        |  i -> concat_ws(' ', slice(tks, i*8+1, 8))) AS cs
        |FROM (SELECT split('t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12 t13
        | t14 t15 t16 t17 t18 t19 t20', ' ') AS tks)
        |""".stripMargin.replace("\n ", " ")).head().getSeq[String](0)
    assert(chunks.length == 3)
    assert(chunks(0) == "t1 t2 t3 t4 t5 t6 t7 t8")
    assert(chunks(2) == "t17 t18 t19 t20")
    assert(chunks.mkString(" ").split(" ").length == 20)
  }

  test("chunking: a footer lands in the pure-footer tail chunk iff n%8==0") {
    // 16 original tokens + 8 footer tokens: last chunk IS the footer
    val cs = spark.sql(
      """SELECT transform(sequence(0, (size(tks)-1) div 8),
        |  i -> concat_ws(' ', slice(tks, i*8+1, 8))) AS cs
        |FROM (SELECT split(concat(array_join(transform(sequence(1,16),
        |  x -> concat('w', x)), ' '),
        |  ' all rights reserved terms of service apply x'), ' ') AS tks)
        |""".stripMargin).head().getSeq[String](0)
    assert(cs.last == "all rights reserved terms of service apply x")
  }

  test("url normalization: the full rewrite chain on a literal") {
    val u = spark.sql(
      """SELECT regexp_replace(replace(
        |  regexp_replace(regexp_replace(replace(lower(
        |    'HTTPS://WWW.Site7.COM:443/Path/37?utm_source=feed&id=2/'),
        |    ':443', ''), 'utm_[a-z]+=[^&]*&', ''),
        |    '[?&]utm_[a-z]+=[^&]*$', ''), '://www.', '://'), '/$', '') AS u
        |""".stripMargin).head().getString(0)
    assert(u == "https://site7.com/path/37?id=2", s"got $u")
    // trailing-utm variant
    val v = spark.sql(
      """SELECT regexp_replace(replace(
        |  regexp_replace(regexp_replace(replace(lower(
        |    'https://www.site1.com:443/path/4?id=4&utm_campaign=x'),
        |    ':443', ''), 'utm_[a-z]+=[^&]*&', ''),
        |    '[?&]utm_[a-z]+=[^&]*$', ''), '://www.', '://'), '/$', '') AS u
        |""".stripMargin).head().getString(0)
    assert(v == "https://site1.com/path/4?id=4", s"got $v")
  }

  test("discrete p25 rank: floor((n-1)/4) picks the same element as DuckDB") {
    // n=5 -> rank 1 (0-based) = 2nd smallest; n=4 -> rank 0; n=218 -> 54
    def r(n: Long): Long = (n - 1) / 4
    assert(r(5) == 1 && r(4) == 0 && r(218) == 54 && r(1) == 0)
  }

  test("range boundaries: octile interpolation is exact for integer keys") {
    // p=k/8 positions are exact binary fractions: percentile() of
    // 0..15 at p=0.125 is 1.875 -> floor 1; bucket fold counts correctly
    val row = spark.sql(
      """SELECT transform(percentile(k, array(0.125D, 0.5D, 0.875D)),
        |  x -> CAST(floor(x) AS BIGINT)) AS bs
        |FROM (SELECT explode(sequence(0, 15)) AS k)
        |""".stripMargin).head().getSeq[Long](0)
    assert(row == Seq(1L, 7L, 13L), s"got $row")
    val bucket = spark.sql(
      "SELECT CAST(aggregate(array(1L, 7L, 13L), 0, " +
        "(acc, c) -> acc + IF(8L > c, 1, 0)) AS INT) AS b").head().getInt(0)
    assert(bucket == 2)
  }
}
