package graft

import graft.operators.{Ann, IvfFixture, PqFixture}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parity of the `pq_codes` encode kernel with the formulation it
  * replaced: the corpus × broadcast (j, c, w) codeword cross join with a
  * `min(struct(d2, c))` aggregate, kept here as the reference only.
  */
class PqCodesSpec extends SparkSpec {

  private val Interpreted = Seq(
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
    "spark.sql.codegen.wholeStage" -> "false")

  private def withConf[T](kv: (String, String)*)(f: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** The cross-join + min(struct) code assignment over a prepared
    * (keys…, emb_d) corpus.
    */
  private def referenceCodesLong(corpus: DataFrame, model: Ann.PqModel,
                                 keys: Seq[String]): DataFrame = {
    val meta = spark.createDataFrame(for {
      j <- 0 until model.m
      (cid, w) <- model.codebooks(j).toSeq
    } yield (j, cid.toLong, w)).toDF("j", "c", "w")
    val sub = slice(col("emb_d"), col("j") * model.subDim + 1,
      lit(model.subDim))
    val d2 = (1 to model.subDim).map { i =>
      val e = element_at(sub, i) - element_at(col("w"), i)
      e * e
    }.reduce(_ + _)
    val k = keys.map(col)
    corpus.crossJoin(broadcast(meta))
      .select(k ++ Seq(col("j"), struct(d2.as("d"), col("c")).as("dc")): _*)
      .groupBy(k :+ col("j"): _*)
      .agg(min(col("dc")).as("b"))
      .select(k ++ Seq(col("j"), col("b.c").as("c")): _*)
  }

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    val g = got.collect().map(_.toSeq).sortBy(_.toString).toSeq
    val w = want.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(g.nonEmpty)
    assert(g == w)
  }

  /** Kernel vs reference on `emb`, in codegen and interpreted mode. */
  private def assertParity(emb: DataFrame, model: Ann.PqModel,
                           coarse: Option[Ann.IvfModel]): Unit = {
    val keys = "vec_id" +: coarse.map(_ => "cell").toSeq
    for (conf <- Seq(Nil, Interpreted)) withConf(conf: _*) {
      val want = referenceCodesLong(
        Ann.pqCorpus(emb, "vec_id", "embedding", coarse), model, keys)
      val got = Ann.pqCodesLong(emb, "vec_id", "embedding", model, coarse)
      assertSameRows(got, want)
    }
  }

  private lazy val emb = Tables.embeddings(spark, sf0001)

  private def vecFrame(rows: Seq[(Long, Seq[java.lang.Double])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, v) =>
        Row(id, if (v == null) null else v.toArray)
      }, 2),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType, containsNull = true)))))

  /** m subspaces × ks codewords of width subDim, ids listed in a shuffled
    * order, so the kernel's id ordering (not codebook order) decides ties.
    */
  private def randomModel(m: Int, ks: Int, subDim: Int,
                          seed: Long): Ann.PqModel = {
    val r = new scala.util.Random(seed)
    Ann.PqModel(subDim, Array.fill(m) {
      r.shuffle((0 until ks).toVector).map(c =>
        (c, Seq.fill(subDim)(r.nextGaussian() * 0.2))).toArray
    })
  }

  private def randomVec(r: scala.util.Random, dim: Int): Seq[java.lang.Double] =
    Seq.fill(dim)(java.lang.Double.valueOf(r.nextGaussian() * 0.2))

  test("pq_codes equals the cross-join reference on the fixture, raw and IVF residual") {
    assertParity(emb, PqFixture.model, None)
    assertParity(emb, PqFixture.model, Some(IvfFixture.model))
    // the wide encode is the reference pivoted back to one row per vector
    val want = referenceCodesLong(
        Ann.pqCorpus(emb, "vec_id", "embedding", Some(IvfFixture.model)),
        PqFixture.model, Seq("vec_id", "cell"))
      .groupBy("vec_id", "cell")
      .agg(max(when(col("j") === 0, col("c"))).as("c0"),
        (1 until PqFixture.model.m).map(j =>
          max(when(col("j") === j, col("c"))).as(s"c$j")): _*)
    assertSameRows(Ann.pqEncode(emb, "vec_id", "embedding", PqFixture.model,
      Some(IvfFixture.model)), want)
  }

  test("pq_codes equals the reference on ties, NaN, nulls and random vectors") {
    val base = randomModel(m = 8, ks = 16, subDim = 8, seed = 7)
    // subspace 1: code 12 duplicates code 3's codeword (exact ties);
    // subspace 2: code 0, the lowest id, carries a NaN component — a NaN
    // d2 first among numbers, which every later number must beat
    def edit(j: Int)(f: ((Int, Seq[Double])) => (Int, Seq[Double])) =
      base.codebooks(j).map(f)
    val w3 = base.codebooks(1).find(_._1 == 3).get._2
    val books = base.codebooks.clone()
    books(1) = edit(1) { case (c, w) => if (c == 12) (c, w3) else (c, w) }
    books(2) = edit(2) { case (c, w) =>
      if (c == 0) (c, w.updated(4, Double.NaN)) else (c, w) }
    val model = Ann.PqModel(8, books)
    val r = new scala.util.Random(11)
    val tie = (0 until 8).flatMap(j =>
      if (j == 1) w3 else model.codebooks(j).head._2)
      .map(java.lang.Double.valueOf)
    def put(i: Int, x: java.lang.Double) = randomVec(r, 64).updated(i, x)
    val rows = (1L to 40L).map(i => (i, randomVec(r, 64))) ++ Seq(
      (101L, tie),
      (102L, put(5, java.lang.Double.NaN)),
      (103L, put(10, null)),
      (104L, null),
      (105L, put(20, java.lang.Double.POSITIVE_INFINITY)),
      (106L, Seq.fill(64)(java.lang.Double.valueOf(Double.NaN))))
    val vecs = vecFrame(rows)
    assertParity(vecs, model, None)
    // the same inputs through the IVF-residual path (null vectors and
    // non-finite elements flow through the cell assignment too)
    assertParity(vecs, PqFixture.model, Some(IvfFixture.model))
    // spot-check the tie rule directly: subspace 1 of vector 101 is
    // equidistant (0) from codes 3 and 12 and takes the lower id
    val codes = Ann.pqEncode(vecs, "vec_id", "embedding", model)
      .filter(col("vec_id") === 101L).select("c1").head().getLong(0)
    assert(codes == 3L)
  }

  test("a vector shorter than m·subDim: same error class under ANSI, same codes without") {
    val model = randomModel(m = 8, ks = 16, subDim = 8, seed = 3)
    val r = new scala.util.Random(5)
    val vecs = vecFrame(Seq((1L, randomVec(r, 64)), (2L, randomVec(r, 60)),
      (3L, randomVec(r, 40))))
    def condition(f: => Any): String = {
      val e = intercept[Throwable](f)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case t: SparkThrowable => t.getCondition }
        .getOrElse(fail(s"no SparkThrowable in the cause chain of $e"))
    }
    for (conf <- Seq(Nil, Interpreted)) withConf(conf: _*) {
      withConf("spark.sql.ansi.enabled" -> "true") {
        val want = condition(referenceCodesLong(
          Ann.pqCorpus(vecs, "vec_id", "embedding", None), model,
          Seq("vec_id")).collect())
        assert(want == "INVALID_ARRAY_INDEX_IN_ELEMENT_AT")
        assert(condition(Ann.pqCodesLong(vecs, "vec_id", "embedding", model,
          None).collect()) == want)
      }
      withConf("spark.sql.ansi.enabled" -> "false") {
        assertParity(vecs, model, None)
      }
    }
  }

  test("a ks=256 model encodes through generated code with no fallback") {
    val model = randomModel(m = 4, ks = 256, subDim = 16, seed = 13)
    val r = new scala.util.Random(17)
    val vecs = vecFrame((1L to 50L).map(i => (i, randomVec(r, 64))))
    val want = referenceCodesLong(
      Ann.pqCorpus(vecs, "vec_id", "embedding", None), model, Seq("vec_id"))
    withConf("spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      val got = Ann.pqCodesLong(vecs, "vec_id", "embedding", model, None)
      assertSameRows(got, want)
      // the kernel runs once, after the repartition, inside a codegen stage
      val plan = got.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val kernelNodes = plan.toString.split("\n").filter(_.contains("pq_codes(")).toSeq
      assert(kernelNodes.size == 1, kernelNodes)
      assert(kernelNodes.head.contains("*("), kernelNodes)
    }
  }
}
