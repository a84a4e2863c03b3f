package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Bounded-shingle-set contract of [[NearDup.ngramJaccardPairs]]: an
  * adversarially long document must not produce an unbounded collected
  * array. The cap is a bottom-k sketch — the k smallest hashes — used
  * consistently for signatures AND Jaccard, so the capped result is the
  * exact Jaccard of the sketches (checked against an independent
  * computation here, and against the DuckDB oracle in the gate).
  */
class NearDupCapSpec extends SparkTestBase {

  import SparkTestBase.spark.implicits._

  // two ~6000-token documents sharing a 5000-token prefix: far beyond
  // any sane collect size when capped at 64
  private def words(prefix: String, n: Int): Seq[String] =
    (0 until n).map(i => s"$prefix$i")

  private lazy val longDocs = Seq(
    (1L, (words("shared", 5000) ++ words("onlya", 1000)).mkString(" ")),
    (2L, (words("shared", 5000) ++ words("onlyb", 1000)).mkString(" "))
  ).toDF("doc_id", "text")

  test("capped shingle sets are bounded and the Jaccard matches the bottom-k sketch") {
    val cap = 64
    val capped = longDocs.select(
      col("doc_id"), explode(NearDup.cappedShingleSketch(col("text"), cap)).as("h"))
    val sizes = capped.groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(sizes.values.forall(_ <= cap), sizes.toString)
    assert(sizes.values.forall(_ == cap), s"6000-token docs should fill the cap: $sizes")

    // independent expectation: exact Jaccard of the two bottom-64 sets
    val sets = capped.as[(Long, Long)].collect().groupBy(_._1).map { case (id, hs) =>
      id -> hs.map(_._2).toSet
    }
    val expected = sets(1L).intersect(sets(2L)).size.toDouble / sets(1L).union(sets(2L)).size

    val out = NearDup
      .ngramJaccardPairs(longDocs, "text", "doc_id", minJaccard = 0.0, maxShinglesPerDoc = cap)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    assert(out.length == 1, out.mkString(","))
    assert(out.head._1 == 1L && out.head._2 == 2L)
    assert(math.abs(out.head._3 - expected) < 1e-12, s"got ${out.head._3}, expected $expected")
  }

  test("capped result is partition-independent") {
    val a = NearDup.ngramJaccardPairs(longDocs, "text", "doc_id", minJaccard = 0.0, maxShinglesPerDoc = 64)
      .collect().toSet
    val b = NearDup.ngramJaccardPairs(longDocs.repartition(13), "text", "doc_id", minJaccard = 0.0, maxShinglesPerDoc = 64)
      .collect().toSet
    assert(a == b)
  }

  test("a cap larger than any doc leaves the exact Jaccard unchanged") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again")
    ).toDF("doc_id", "text")
    val out = NearDup.ngramJaccardPairs(docs, "text", "doc_id")
      .select("jaccard").as[Double].collect()
    assert(out.toSeq == Seq(1.0))
  }
}
