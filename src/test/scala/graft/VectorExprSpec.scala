package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.Vectors

/** The native codegen'd FloatDotProduct must be BIT-identical to the
  * portable higher-order form (same left-to-right double fold) — that
  * equivalence is what lets the fast path serve oracle-checked queries.
  */
class VectorExprSpec extends SparkSpec {
  import spark.implicits._

  test("native dot == HOF dot, bit-exact, on fixture embeddings") {
    val diff = Tables.embeddings(spark, sf)
      .select(Vectors.dot(col("embedding"), col("embedding")).as("fast"),
        Vectors.dotHof(col("embedding"), col("embedding")).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(diff.count() === 0)
  }

  test("native dot == HOF dot on random float arrays (property)") {
    val genVec = Gen.listOfN(16, Gen.chooseNum(-10.0f, 10.0f))
    val pairs = (1 to 200).flatMap { i =>
      for {
        a <- genVec(Gen.Parameters.default, Seed(i.toLong))
        b <- genVec(Gen.Parameters.default, Seed(-i.toLong))
      } yield (a, b)
    }
    val rows = pairs.toDF("a", "b")
      .select(Vectors.dot(col("a"), col("b")).as("fast"),
        Vectors.dotHof(col("a"), col("b")).as("ref"))
      .as[(Double, Double)].collect()
    rows.foreach { case (fast, ref) =>
      assert(java.lang.Double.doubleToLongBits(fast) ===
        java.lang.Double.doubleToLongBits(ref))
    }
  }

  test("native sqdist == HOF sqdist, bit-exact, on fixture pairs and random arrays") {
    // fixture cross pairs: every query embedding against every corpus row
    val base = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val diff = base.toDF("q_id", "q_emb").filter(col("q_id") < 5)
      .crossJoin(base)
      .select(Vectors.sqDist(col("q_emb"), col("embedding")).as("fast"),
        Vectors.sqDistHof(col("q_emb"), col("embedding")).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(diff.count() === 0)
    // property: random float arrays, bit-level equality
    val genVec = Gen.listOfN(16, Gen.chooseNum(-10.0f, 10.0f))
    val pairs = (1 to 200).flatMap { i =>
      for {
        a <- genVec(Gen.Parameters.default, Seed(7 * i.toLong))
        b <- genVec(Gen.Parameters.default, Seed(-7 * i.toLong))
      } yield (a, b)
    }
    val rows = pairs.toDF("a", "b")
      .select(Vectors.sqDist(col("a"), col("b")).as("fast"),
        Vectors.sqDistHof(col("a"), col("b")).as("ref"))
      .as[(Double, Double)].collect()
    rows.foreach { case (fast, ref) =>
      assert(java.lang.Double.doubleToLongBits(fast) ===
        java.lang.Double.doubleToLongBits(ref))
    }
    // interpreted eval path (nullSafeEval, codegen off) agrees too
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val r = Tables.embeddings(spark, sf)
        .select(Vectors.sqDist(col("embedding"), col("embedding")).as("d"),
          Vectors.sqDistHof(col("embedding"), col("embedding")).as("ref"))
        .filter(col("d") =!= col("ref") || col("d") =!= 0.0)
      assert(r.count() === 0)
    }
  }

  test("native double_sqdist == HOF, bit-exact, incl. interpreted path") {
    val hof = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, v) => acc + v)
    val nat = org.apache.spark.sql.graft.GraftSql.doubleSqDist _
    // PQ-shaped fixture pairs: double subvectors against each other
    val subs = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        expr("transform(slice(embedding, 1, 16), x -> CAST(x AS DOUBLE))").as("s"))
    val diff = subs.toDF("q_id", "q_s").filter(col("q_id") < 8)
      .crossJoin(subs)
      .select(nat(col("q_s"), col("s")).as("fast"), hof(col("q_s"), col("s")).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(diff.count() === 0)
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val r = subs.select(nat(col("s"), col("s")).as("d"))
        .filter(col("d") =!= 0.0)
      assert(r.count() === 0)
    }
  }

  test("native fd_dot / fd_sqdist == HOF forms, bit-exact") {
    val subs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE) * 0.5)").as("m"))
    val hofDot = aggregate(zip_with(col("embedding"), col("m"),
      (x, y) => x.cast("double") * y), lit(0.0), (a, x) => a + x)
    val hofSq = aggregate(zip_with(col("embedding"), col("m"),
      (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
      lit(0.0), (a, x) => a + x)
    val diff = subs.select(
        org.apache.spark.sql.graft.GraftSql.fdDot(col("embedding"), col("m")).as("fd"),
        hofDot.as("rd"),
        org.apache.spark.sql.graft.GraftSql.fdSqDist(col("embedding"), col("m")).as("fs"),
        hofSq.as("rs"))
      .filter(col("fd") =!= col("rd") || col("fs") =!= col("rs"))
    assert(diff.count() === 0)
    // interpreted path
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val r = subs.select(
          org.apache.spark.sql.graft.GraftSql.fdDot(col("embedding"), col("m")).as("fd"),
          hofDot.as("rd"))
        .filter(col("fd") =!= col("rd"))
      assert(r.count() === 0)
    }
  }

  test("float_sqdist is registered and callable from SQL") {
    org.apache.spark.sql.graft.GraftSql.ensureRegistered(spark)
    val got = spark.sql(
      "SELECT float_sqdist(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)), " +
        "array(CAST(3 AS FLOAT), CAST(0 AS FLOAT)))").as[Double].head()
    assert(got === 8.0)
  }

  test("float_dot is registered and callable from SQL") {
    org.apache.spark.sql.graft.GraftSql.ensureRegistered(spark)
    val r = spark.sql("SELECT float_dot(array(CAST(1.5 AS FLOAT), CAST(2 AS FLOAT)), " +
      "array(CAST(2 AS FLOAT), CAST(3 AS FLOAT))) AS d").as[Double].head()
    assert(r === 9.0)
  }

  test("interpreted eval path (nullSafeEval) matches codegen") {
    // force interpreted evaluation by turning codegen off for one query
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val r = Tables.embeddings(spark, sf)
        .select(Vectors.dot(col("embedding"), col("embedding")).as("d"),
          Vectors.dotHof(col("embedding"), col("embedding")).as("ref"))
        .filter(col("d") =!= col("ref"))
      assert(r.count() === 0)
    }
  }

  test("length mismatch -> null on every array-pair native expression (HOF parity)") {
    // the HOF forms null-pad the shorter array (zip_with) and the fold
    // propagates the null — the native expressions must agree, so a
    // malformed/short vector yields NULL, never a silently-finite
    // distance over the truncated prefix. Checked on codegen AND
    // interpreted paths, with the HOF columns asserted alongside so the
    // parity claim itself is exercised, not assumed.
    val gs = org.apache.spark.sql.graft.GraftSql
    gs.ensureRegistered(spark)
    val df = Seq((Seq(1f, 2f, 3f), Seq(1f, 2f))).toDF("a", "b")
      .withColumn("ad", expr("transform(a, x -> CAST(x AS DOUBLE))"))
      .withColumn("bd", expr("transform(b, x -> CAST(x AS DOUBLE))"))
    def check(): Unit = {
      val row = df.select(
        Vectors.dot(col("a"), col("b")).as("d"),
        Vectors.dotHof(col("a"), col("b")).as("dh"),
        Vectors.sqDist(col("a"), col("b")).as("s"),
        Vectors.sqDistHof(col("a"), col("b")).as("sh"),
        expr("double_sqdist(ad, bd)").as("ds"),
        gs.fdDot(col("a"), col("bd")).as("fd"),
        gs.fdSqDist(col("a"), col("bd")).as("fs")).head()
      (0 until 7).foreach(i =>
        assert(row.isNullAt(i), s"column $i finite on length mismatch"))
    }
    check()
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") { check() }
  }

  test("sparse_dot == exploded decimal join-aggregate, bit-exact, on fixture docs") {
    import org.apache.spark.sql.graft.GraftSql
    import org.apache.spark.sql.types.DecimalType
    // per-doc TF weight vectors from the fixture (plain tf as weight —
    // the expression doesn't care how weights were derived)
    val w = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(graft.functions.Text.tokens(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).cast("double").as("w"))
    val wlist = w.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("word"), col("w")))).as("wv"))
    // a deterministic band of pairs, including disjoint-vocab ones
    val pairs = wlist.select(col("doc_id").as("a"), col("wv").as("va"))
      .join(wlist.select(col("doc_id").as("b"), col("wv").as("vb")),
        col("a") + 1 === col("b") || col("a") + 137 === col("b"))
    val native = pairs
      .select(col("a"), col("b"), GraftSql.sparseDot(col("va"), col("vb")).as("dp"))
    val reference = pairs.select(col("a"), col("b"))
      .join(w.select(col("doc_id").as("a"), col("word"), col("w").as("wa")), "a")
      .join(w.select(col("doc_id").as("b"), col("word"), col("w").as("wb")), Seq("b", "word"))
      .groupBy("a", "b")
      .agg(sum(round(col("wa").cast(DecimalType(18, 6)) * col("wb").cast(DecimalType(18, 6)), 9))
        .cast("double").as("ref"))
    val joined = native.join(reference, Seq("a", "b"), "left")
      .select(col("dp"), coalesce(col("ref"), lit(0.0)).as("ref"))
    assert(joined.count() > 0)
    assert(joined.filter(col("dp") =!= col("ref")).count() === 0,
      "native sparse_dot diverged from the decimal join-aggregate")
    // interpreted path agrees with codegen
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(native.filter(col("dp").isNull).count() === 0)
      val interp = native.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      withSQLConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
        val cg = native.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(interp === cg)
      }
    }
    // edge cases: empty side via the SQL registration path → exact zero
    GraftSql.ensureRegistered(spark)
    val empty = spark.sql(
      """SELECT sparse_dot(
        |  CAST(array() AS array<struct<word string, w double>>),
        |  array(struct('x' AS word, CAST(2.0 AS DOUBLE) AS w))) AS d""".stripMargin)
    assert(empty.collect()(0).getDouble(0) === 0.0)
    // null elements and null word fields are skipped, not NPE'd
    val nulls = spark.sql(
      """SELECT sparse_dot(
        |  array(struct('x' AS word, CAST(2.0 AS DOUBLE) AS w),
        |        CAST(NULL AS struct<word string, w double>)),
        |  array(struct(CAST(NULL AS STRING) AS word, CAST(9.0 AS DOUBLE) AS w),
        |        struct('x' AS word, CAST(3.0 AS DOUBLE) AS w))) AS d""".stripMargin)
    assert(nulls.collect()(0).getDouble(0) === 6.0)
    // the representable-tie case the exact decimal path exists for:
    // 0.000025 * 0.00002 = 5e-10 EXACTLY as decimals — a .5 boundary
    // at the 10th digit. HALF_UP on the exact product gives 1e-9;
    // rounding the DOUBLE product would depend on which side of 5e-10
    // the nearest double lands, per engine. DuckDB's
    // round(DECIMAL(18,6)*DECIMAL(18,6), 9) was probed to agree.
    val tie = spark.sql(
      """SELECT sparse_dot(
        |  array(struct('x' AS word, CAST(0.000025 AS DOUBLE) AS w)),
        |  array(struct('x' AS word, CAST(0.00002 AS DOUBLE) AS w))) AS d""".stripMargin)
    assert(tie.collect()(0).getDouble(0) === 1e-9)
  }

  test("native ShingleMinHash == HOF minhash signature, exactly") {
    import graft.functions.Text
    val salts = (0 until 12).map(j => s"$j|")
    val toks = Text.tokens(col("text"))
    val hof = transform(sequence(lit(0), lit(11)), j =>
      array_min(transform(array_distinct(Text.shingles(toks, 3)),
        x => md5(concat(j.cast("string"), lit("|"), x).cast("binary")))))
    val rows = Tables.documents(spark, sf)
      .filter(size(toks) >= 3)
      .select(org.apache.spark.sql.graft.GraftSql.shingleMinHash(toks, 3, salts).as("fast"),
        hof.as("ref"))
      .as[(Seq[String], Seq[String])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (fast, ref) => assert(fast === ref) }
  }

  test("ShingleMinHash: null for short docs, interpreted == codegen") {
    import graft.functions.Text
    val df = Seq("one two", "one two three four").toDF("text")
      .select(org.apache.spark.sql.graft.GraftSql.shingleMinHash(
        Text.tokens(col("text")), 3, Seq("", "1|")).as("sig"))
    val got = df.as[Option[Seq[String]]].collect()
    assert(got(0).isEmpty && got(1).exists(_.length == 2))
  }

  test("ShingleHashSet + SortedIntersectCount reproduce string-set Jaccard inputs") {
    import graft.functions.Text
    val gs = org.apache.spark.sql.graft.GraftSql
    val toks = Text.tokens(col("text"))
    // per-doc: hashed-set size == string-set size (no collisions on fixtures)
    val sizes = Tables.documents(spark, sf)
      .select(size(gs.shingleHashSet(toks, 3)).as("fast"),
        size(gs.shingleSet(toks, 3)).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(sizes.count() === 0)
    // per-pair: merge-walk count == array_intersect count over strings,
    // on every within-block pair the Jaccard query actually evaluates
    val base = Tables.documents(spark, sf)
      .select(col("doc_id"), gs.shingleSet(toks, 3).as("ss"),
        gs.shingleHashSet(toks, 3).as("hs"),
        element_at(gs.shingleMinHash(toks, 3, Seq("")), 1).as("blk"))
      .filter(size(col("ss")) > 0)
    val a = base.toDF("a_id", "a_ss", "a_hs", "blk")
    val b = base.toDF("b_id", "b_ss", "b_hs", "blk")
    val pairs = a.join(b, "blk").filter(col("a_id") < col("b_id"))
      .select(size(array_intersect(col("a_ss"), col("b_ss"))).as("ref"),
        gs.sortedIntersectCount(col("a_hs"), col("b_hs")).as("fast"))
    assert(pairs.count() > 0)
    assert(pairs.filter(col("fast") =!= col("ref")).count() === 0)
  }

  test("ShingleHashSet: sorted distinct; short docs empty; interpreted == codegen") {
    val gs = org.apache.spark.sql.graft.GraftSql
    import graft.functions.Text
    val df = Seq("one two", "a b c a b c d", "x y z").toDF("text")
      .select(gs.shingleHashSet(Text.tokens(col("text")), 3).as("hs"))
    val got = df.as[Seq[Long]].collect()
    assert(got(0).isEmpty)
    got.foreach(hs => assert(hs === hs.distinct.sorted))
    // 7 tokens → 5 shingle positions, "a b c" repeats → 4 distinct
    assert(got(1).length === 4)
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(df.as[Seq[Long]].collect().toSeq === got.toSeq)
    }
  }

  test("native ShingleSet == array_distinct(shingles) exactly") {
    import graft.functions.Text
    val toks = Text.tokens(col("text"))
    val rows = (Tables.documents(spark, sf).select(col("text")).as[String].take(50) ++
        Seq("", "one", "one two", "a b c a b c"))
      .toSeq.toDF("text")
      .select(org.apache.spark.sql.graft.GraftSql.shingleSet(toks, 3).as("fast"),
        array_distinct(Text.shingles(toks, 3)).as("ref"))
      .as[(Seq[String], Seq[String])].collect()
    rows.foreach { case (fast, ref) => assert(fast === ref) }
  }
}
