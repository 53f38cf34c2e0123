package graft

import org.apache.spark.sql.functions._

import graft.functions.Text

/** The native codegen'd SimHash expressions must be BIT-identical to
  * the formulations they replaced on the hot path — the typed
  * SimHash64 Aggregator (explode+groupBy UDAF) and the 16-bit HOF
  * fold — because the registered queries inherited those oracles
  * unchanged.
  */
class SimHashExprSpec extends SparkSpec {
  import spark.implicits._

  private val gs = org.apache.spark.sql.graft.GraftSql

  test("SimHash64Expr == SimHash64 Aggregator on fixture documents") {
    val sim64 = udaf(graft.functions.SimHash64)
    val toks = Text.tokens(col("text"))
    val viaAgg = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(toks).as("word"))
      .groupBy("doc_id").agg(sim64(col("word")).as("ref"))
    val viaExpr = Tables.documents(spark, sf)
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"), gs.simHash64(col("toks")).as("fast"))
    val joined = viaExpr.join(viaAgg, "doc_id")
    assert(joined.count() === viaAgg.count()) // same doc row set
    assert(joined.filter(col("fast") =!= col("ref")).count() === 0)
  }

  test("SimHash16Expr == the HOF majority fold on fixture documents") {
    val toks = Text.tokens(col("text"))
    val h = transform(toks, x => md5(x.cast("binary")))
    val hofFold = aggregate(
      h,
      array((1 to 16).map(_ => lit(0)): _*),
      (acc, x) => transform(sequence(lit(1), lit(16)),
        i => element_at(acc, i) +
          when(x.substr(i, lit(1)) >= "8", 1).otherwise(-1)),
      cnt => (1 to 16).map(i =>
        when(element_at(cnt, i) > 0, lit(1 << (16 - i))).otherwise(lit(0)))
        .reduce(_ + _)).cast("int")
    val diff = Tables.documents(spark, sf)
      .select(gs.simHash16(toks).as("fast"), hofFold.as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(diff.count() === 0)
  }

  test("simhash16 is the top bit of each simhash64 hex digit") {
    // the 16-bit sketch is definitionally a nibble-slice of the 64-bit
    // counters — cross-pin the two expressions against each other
    val toks = Text.tokens(col("text"))
    val fromHex = (1 to 16).map(i =>
      when(substring(col("h64"), i, 1) >= "8", lit(1 << (16 - i))).otherwise(lit(0)))
      .reduce(_ + _)
    val rows = Tables.documents(spark, sf)
      .filter(size(toks) >= 1)
      .select(gs.simHash64(toks).as("h64"), gs.simHash16(toks).as("h16"))
      .filter(fromHex =!= col("h16"))
    assert(rows.count() === 0)
  }

  test("edge cases: empty array → zero sketch, null array → null") {
    val df = Seq(Some("alpha beta gamma"), Some(""), None).toDF("text")
      .select(gs.simHash64(Text.tokens(col("text"))).as("h64"),
        gs.simHash16(Text.tokens(col("text"))).as("h16"))
    val got = df.as[(Option[String], Option[Int])].collect()
    assert(got(0)._1.exists(_.length == 16) && got(0)._2.isDefined)
    assert(got(1)._1 === Some("0000000000000000") && got(1)._2 === Some(0))
    assert(got(2)._1.isEmpty && got(2)._2.isEmpty)
  }

  test("interpreted eval path matches codegen") {
    val toks = Text.tokens(col("text"))
    val reference = Tables.documents(spark, sf)
      .select(col("doc_id"), gs.simHash64(toks).as("h64"), gs.simHash16(toks).as("h16"))
      .orderBy("doc_id").collect()
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val interp = Tables.documents(spark, sf)
        .select(col("doc_id"), gs.simHash64(toks).as("h64"), gs.simHash16(toks).as("h16"))
        .orderBy("doc_id").collect()
      assert(interp.toSeq === reference.toSeq)
    }
  }
}
