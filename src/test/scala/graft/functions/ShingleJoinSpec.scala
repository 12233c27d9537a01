package graft.functions

import graft.SharedSparkSpec
import org.apache.spark.sql.functions._

/** [[ShingleJoin]] must produce the EXACT array the old higher-order-
  * function formulation produced — same window positions, same space
  * join, same first-occurrence-order distinct — on every real document,
  * or every shingle-bearing oracle hash (q36/q50/q104/q175/q227, the
  * curation family, the postings layouts…) silently moves. */
class ShingleJoinSpec extends SharedSparkSpec {
  import graft.dsl._

  private def oldShingles(tokCol: org.apache.spark.sql.Column, k: Int) =
    array_distinct(transform(
      sequence(lit(1), size(tokCol) - (k - 1)),
      i => concat_ws(" ", slice(tokCol, i, lit(k)))))

  test("kernel == the old array_distinct(transform(concat_ws(slice))) on every doc") {
    val t = new graft.Tables(spark, sf001)
    for (k <- Seq(3, 5, 8)) {
      val base = t.documents
        .select(col("doc_id"), toks(col("text")).as("tk"))
        .filter(size(col("tk")) >= k)
      val diff = base.select(
        col("doc_id"),
        shingles(col("tk"), k).as("fused"),
        oldShingles(col("tk"), k).as("hof"))
        .filter(not(col("fused") === col("hof")))
        .count()
      assert(diff == 0, s"k=$k: fused shingles diverged from the HOF form on $diff docs")
    }
  }

  test("defined empty result below k (the old form's guarded edge)") {
    val spark2 = spark; import spark2.implicits._
    val df = Seq(Seq("a", "b")).toDF("tk")
      .select(shingles(col("tk"), 5).as("sh"))
    assert(df.head().getSeq[String](0).isEmpty)
  }

  test("null tokens: kernel == the old form (both skip nulls in the join)") {
    val spark2 = spark; import spark2.implicits._
    val df = Seq(Seq("a", null, "b", "c")).toDF("tk")
    for (k <- Seq(2, 3)) {
      val r = df.select(shingles(col("tk"), k), oldShingles(col("tk"), k)).head()
      assert(r.getSeq[String](0) == r.getSeq[String](1), s"k=$k")
    }
    assert(df.select(shingles(col("tk"), 2)).head().getSeq[String](0) == Seq("a", "b", "b c"))
  }
}
