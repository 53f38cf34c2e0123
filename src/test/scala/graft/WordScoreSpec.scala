package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction, StringSplit}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.Text
import graft.operators.{TextAnalysis, WordScore}
import graft.plans.WhitespaceTokens
import graft.sources.{ReviewSource, TsvSink}

/** Reference-semantics tests (golden corpus from FIXTURES.md §A) and
  * tokenizer-parity properties vs java.util.StringTokenizer — the exact
  * ground truth the reference uses (`ComputeWordScore.java:116-120`).
  */
class WordScoreSpec extends SparkSpec {
  import spark.implicits._

  private def stringTokenizerTokens(s: String): List[String] = {
    val it = new java.util.StringTokenizer(s)
    Iterator.continually(it).takeWhile(_.hasMoreTokens).map(_.nextToken()).toList
  }

  test("golden corpus: hand-computed scores, reference semantics") {
    val dir = Files.createTempDirectory("reviews").toFile
    val json =
      """{"stars": 5.0, "text": "great great food"}
        |{"stars": 1.0, "text": "great awful\tservice"}
        |{"stars": 3.0, "text": "neutral words ignored"}
        |{"stars": 4.7, "text": "  padded tokens  "}
        |{"stars": 2.0, "text": ""}
        |""".stripMargin
    Files.writeString(new java.io.File(dir, "reviews.json").toPath, json)

    val reviews = ReviewSource.reviews(spark, dir.getAbsolutePath)
    val got = WordScore.score(reviews, col("stars"), col("text"))
      .as[(String, Long)].collect().toMap

    // 4.7★ truncates to 4 (reference Number.intValue, :113) → modifier +1.
    assert(got === Map(
      "great" -> 2L, "food" -> 2L, "awful" -> -2L, "service" -> -2L,
      "neutral" -> 0L, "words" -> 0L, "ignored" -> 0L,
      "padded" -> 1L, "tokens" -> 1L))
  }

  test("output is sorted by score descending") {
    val scores = SparkEntry.entry(spark).select("score").as[Long].collect()
    assert(scores.nonEmpty && scores.sameElements(scores.sortBy(-_)))
  }

  test("tsv sink writes score<TAB>word lines in order") {
    val out = Files.createTempDirectory("tsv").toFile.getAbsolutePath + "/out"
    TsvSink.write(SparkEntry.entry(spark), out)
    val lines = spark.read.text(out).as[String].collect()
    assert(lines.nonEmpty && lines.forall(_.matches("-?\\d+\\t\\S+")))
    val scores = lines.map(_.split("\t")(0).toLong)
    assert(scores.sameElements(scores.sortBy(-_)))
  }

  /** The regex tokenizer [[Text.tokens]] used before the byte scan,
    * kept here only as a differential oracle.
    */
  private def regexTokens(text: Column): Column =
    filter(split(text, "[ \\t\\n\\r\\f]+"), t => length(t) > 0)

  /** Every operator of `df`'s executed plan, through adaptive plans
    * and subqueries.
    */
  private def executedNodes(df: DataFrame): Seq[SparkPlan] = {
    object walk extends AdaptiveSparkPlanHelper
    walk.collectWithSubqueries(df.queryExecution.executedPlan) { case p => p }
  }

  private def expressionsOf(nodes: Seq[SparkPlan]): Seq[Expression] =
    nodes.flatMap(_.expressions.flatMap(_.collect { case e => e }))

  test("tokenizer parity with java.util.StringTokenizer (property)") {
    val genText: Gen[String] =
      Gen.listOf(Gen.oneOf(Gen.alphaNumStr.suchThat(_.nonEmpty),
        Gen.oneOf(" ", "\t", "\n", "\r", "\f", "  ", " \t"),
        Gen.const("a.b,c!"),
        // 2-, 3- and 4-byte UTF-8
        Gen.oneOf("é", "日本語", "\ud83d\ude00", "naïve"),
        // Unicode whitespace that is NOT a StringTokenizer delimiter
        Gen.oneOf("\u00a0", "\u2003", "\u3000", "\u000b", "\u001c",
          "\u001d", "\u001e", "\u001f", "\u0085"))).map(_.mkString)
    val edges = Seq("", " ", " \t\n\r\f ", "\t\tlead", "trail\r\n\f ",
      "  both  ", "\u00a0", "a\u000bb", "\ud83d\ude00 \ud83d\ude00")
    // 500 deterministic samples plus the edges and NULL, checked in ONE job
    val samples = (edges ++ (1 to 500).flatMap(i =>
      genText.apply(Gen.Parameters.default, Seed(i.toLong)))).distinct :+ null
    // RDD-backed, so the projection runs in the executor: the optimizer
    // would fold the same projection over a local Seq at plan time.
    // Collect keeps the input order, so row i is samples(i).
    def tokenized(tokens: Column => Column): DataFrame =
      spark.sparkContext.parallelize(samples, 4).toDF("text")
        .select(tokens(col("text")))
    val regex = tokenized(regexTokens).as[Seq[String]].collect()
    def run(codegen: Boolean): Unit = {
      val df = tokenized(Text.tokens)
      val got = df.as[Seq[String]].collect()
      // the byte scan runs inside a whole-stage stage exactly when codegen
      // is on (the regex oracle, a CodegenFallback, would keep it out)
      val staged = executedNodes(df).collect { case w: WholeStageCodegenExec => w }
      assert(expressionsOf(staged.flatMap(_.child.collect { case p => p }))
        .exists(_.isInstanceOf[WhitespaceTokens]) === codegen)
      assert(got.length === samples.length)
      samples.indices.foreach { i =>
        val s = samples(i)
        val shown = Option(s).map(_.flatMap {
          case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04x"
          case c => c.toString
        }).orNull
        assert(got(i) === regex(i), s"vs regex split, input=$shown codegen=$codegen")
        if (s != null) assert(got(i).toList === stringTokenizerTokens(s),
          s"vs StringTokenizer, input=$shown codegen=$codegen")
      }
    }
    run(codegen = true)
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") { run(codegen = false) }
  }

  test("permutation invariance: shuffling input rows never changes scores") {
    val docs = Tables.documents(spark, sf)
    val base = WordScore.flagship(docs).as[(String, Long)].collect().toSeq
    val shuffled = WordScore.flagship(docs.orderBy(rand(7))).as[(String, Long)].collect().toSeq
    assert(base === shuffled)
  }

  test("CLI -D passthrough parses like ToolRunner/GenericOptionsParser") {
    // -Dk=v attached and -D k=v detached forms, mixed with positionals
    assert(WordScoreMain.parseArgs(Array("-Dspark.foo=1", "in", "out")) ===
      Some((Seq("spark.foo" -> "1"), Seq("in", "out"))))
    assert(WordScoreMain.parseArgs(Array("-D", "a.b=x=y", "in", "-Dc=2", "out")) ===
      Some((Seq("a.b" -> "x=y", "c" -> "2"), Seq("in", "out"))))
    assert(WordScoreMain.parseArgs(Array("in", "out")) ===
      Some((Seq(), Seq("in", "out"))))
    // malformed: missing '=', empty key, dangling -D → usage error (exit 2 path)
    assert(WordScoreMain.parseArgs(Array("-Dnoequals", "in", "out")) === None)
    assert(WordScoreMain.parseArgs(Array("-D", "=v", "in", "out")) === None)
    assert(WordScoreMain.parseArgs(Array("in", "out", "-D")) === None)
  }

  test("out-of-domain stars fail the job like the reference's NPE") {
    val dir = Files.createTempDirectory("badstars").toFile
    Files.writeString(new java.io.File(dir, "r.json").toPath,
      "{\"stars\": 7.0, \"text\": \"off the scale\"}\n")
    val bad = ReviewSource.reviews(spark, dir.getAbsolutePath)
    val e = intercept[Exception] {
      WordScore.score(bad, col("stars"), col("text")).collect()
    }
    assert(e.getMessage.contains("out of domain") ||
      Option(e.getCause).exists(_.getMessage.contains("out of domain")))
  }

  test("bad-stars review with zero tokens succeeds (reference NPEs only at write)") {
    // the reference unboxes the modifier at context.write — per emitted
    // token; a whitespace-only text emits nothing, so stars=7 passes
    import spark.implicits._
    val bad = Seq((7.0, " \t\n "), (5.0, "fine words")).toDF("stars", "text")
    val out = WordScore.score(bad, col("stars"), col("text"))
      .as[(String, Long)].collect().toMap
    assert(out === Map("fine" -> 2L, "words" -> 2L))
  }

  test("plan guard: tokenizing runs no regex split and no lambda") {
    // WordScore.flagship is WordScore.score over the documents fixture
    for (df <- Seq(WordScore.flagship(Tables.documents(spark, sf)),
                   TextAnalysis.tMapOps(spark, sf))) {
      df.collect()
      val es = expressionsOf(executedNodes(df))
      assert(es.exists(_.isInstanceOf[WhitespaceTokens]))
      assert(!es.exists(e => e.isInstanceOf[StringSplit] || e.isInstanceOf[LambdaFunction]),
        df.queryExecution.executedPlan.treeString)
    }
  }

  test("malformed JSON fails fast like the reference") {
    val dir = Files.createTempDirectory("badjson").toFile
    Files.writeString(new java.io.File(dir, "bad.json").toPath,
      "{\"stars\": 5.0, \"text\": \"ok\"}\n{not json at all\n")
    val bad = ReviewSource.reviews(spark, dir.getAbsolutePath)
    assertThrows[org.apache.spark.SparkException] {
      WordScore.score(bad, col("stars"), col("text")).collect()
    }
  }
}
