package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.Relational7

/** sim_hard_negatives_bounded: the sorted-neighborhood miner's semantics
  * are "top-4 by (dn, tie) among the W-neighborhood of the anchor in its
  * block's (n_chars, doc_id) order". The banding implementation must
  * reproduce a brute-force evaluation of that definition exactly, and it
  * must stay well-formed on one giant block (the case where the plain
  * miner goes quadratic). */
class HardNegativesSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private val W = Relational7.HardNegWindow

  test("bounded miner == brute-force W-neighborhood reference (fixture)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val ranked = docs
      .select(col("doc_id"), col("lang"), col("n_chars"),
        md5(col("text")).as("h"), expr("n_chars div 50").as("bkt"))
      .withColumn("pos", row_number().over(
        Window.partitionBy("lang", "bkt").orderBy("n_chars", "doc_id")))
    val a = ranked.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("anchor"), col("lang"), col("bkt"),
        col("n_chars").as("alen"), col("h").as("ah"), col("pos").as("ap"))
    val c = ranked.select(col("doc_id").as("neg"), col("lang"), col("bkt"),
      col("n_chars").as("nlen"), col("h").as("nh"), col("pos").as("cp"))
    // brute: every block pair, then the W-neighborhood filter
    val brute = a.join(c, Seq("lang", "bkt"))
      .filter(abs(col("cp") - col("ap")) <= W &&
        col("anchor") =!= col("neg") && col("ah") =!= col("nh"))
      .select(col("anchor"), col("neg"),
        abs(col("alen") - col("nlen")).as("dn"),
        md5(concat(col("anchor").cast("string"), lit("|"),
          col("neg").cast("string"))).as("tie"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("anchor").orderBy(col("dn"), col("tie"))))
      .filter(col("rk") <= 4)
      .select(col("anchor"), col("rk").cast("long").as("rk"),
        col("neg"), col("dn"))
    val got = SparkEntry.queries("sim_hard_negatives_bounded")(spark, dir)
    assert(got.count() > 0)
    assert(got.exceptAll(brute).isEmpty && brute.exceptAll(got).isEmpty)
  }

  test("giant single block: multi-band coverage, 4 negatives per anchor") {
    import spark.implicits._
    // 600 docs, one lang, n_chars all in one bkt (100..149) -> one block
    // spanning ~15 bands of width W. The plain miner would examine
    // 120 x 599 pairs; the bounded one <= anchors x (2W+1).
    val docs = (1L to 600L).map { i =>
      (i, "en", 100 + (i % 50), s"doc body $i")
    }.toDF("doc_id", "lang", "n_chars", "text")
    val out = Relational7.hardNegativesBoundedOver(spark, docs)
      .collect()
    val byAnchor = out.groupBy(_.getLong(0))
    assert(byAnchor.keySet == (5L to 600L by 5L).toSet)
    assert(byAnchor.values.forall(_.length == 4))
    // every mined negative sits within W positions of its anchor in the
    // (n_chars, doc_id) order
    val pos = docs.select(col("doc_id"), col("n_chars"))
      .withColumn("pos", row_number().over(
        Window.orderBy("n_chars", "doc_id")))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(out.forall(r =>
      math.abs(pos(r.getLong(0)) - pos(r.getLong(2))) <= W))
    // deterministic across reruns
    val again = Relational7.hardNegativesBoundedOver(spark, docs).collect()
    assert(out.toSeq == again.toSeq)
  }
}
