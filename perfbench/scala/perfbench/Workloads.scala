package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.operators._
import graft.perfbench.IndexStats
import graft.pipeline.Etl
import graft.sources.{Csv, Sinks}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One workload: untimed set-up (warm-up included), the timed loop of
  * [[cycle]]s of [[timed]] operations, and the output checks. A throw in a
  * timed operation counts as a failed operation and the run goes on. */
abstract class Workload(val spark: SparkSession, val tr: Tracer,
                        val rec: Recorder, val o: Main.Opts) {
  def setup(): Unit
  /** The timed loop: operations until `seconds` have passed (each workload
    * runs a minimum number so every metric has samples). */
  def measure(seconds: Double): Unit
  def check(): Unit
  /** Layer metrics only the workload can compute (traced run only). */
  def traceExtras(): Unit = ()

  private var traceThisCycle = false

  /** One cycle of the timed loop. In the traced run every second cycle is
    * traced, so traced and untraced cycles interleave and their wall times
    * give the tracing overhead. */
  def cycle(i: Int)(body: => Unit): Unit = {
    traceThisCycle = tr.traced && i % 2 == 1
    if (traceThisCycle)
      rec.set("traced_cycles", rec.values.getOrElse("traced_cycles", 0).asInstanceOf[Int] + 1)
    try clocked("cycle")(body) finally traceThisCycle = false
  }

  /** Minimum cycles per run. The traced run needs a traced cycle between
    * two untraced ones: the first cycle of a JVM still runs slower, so the
    * overhead compares the traced cycle with the later untraced one. */
  def minCycles(untraced: Int): Int = if (tr.traced) math.max(3, untraced) else untraced

  private var requestId = 0

  /** One timed operation; its spans share a request id. */
  def timed[T](kind: String)(body: => T): Option[T] = {
    requestId += 1
    tr.enabled = traceThisCycle
    try rec.op(if (traceThisCycle) s"$kind@traced" else kind)(tr.inRequest(requestId)(body))
    finally tr.enabled = false
  }

  /** Wall time of `body` as an extra sample that is not an operation. */
  def clocked[T](kind: String)(body: => T): T = {
    val t = System.nanoTime()
    val r = body
    rec.sample(if (traceThisCycle) s"$kind@traced" else kind, (System.nanoTime() - t) / 1e9)
    r
  }

  val manifest: JsonNode = new ObjectMapper().readTree(new File(o.data, "manifest.json"))
  def json(name: String): JsonNode = new ObjectMapper().readTree(new File(o.data, name))
  def dataFile(name: String): String = new File(o.data, name).getAbsolutePath
  def workDir(name: String): String = new File(o.work, name).getAbsolutePath

  def fail(msg: String): Nothing = throw new IllegalStateException(msg)

  /** Order-independent hash of a frame's rows (wrapping sum of xxhash64). */
  def hashOf(df: DataFrame): String = {
    val s = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(sum(col("h"))).head().getDecimal(0)
    val v = if (s == null) java.math.BigInteger.ZERO else s.toBigInteger
    v.and(java.math.BigInteger.ONE.shiftLeft(64).subtract(java.math.BigInteger.ONE)).toString(16)
  }

  def recordHash(df: DataFrame): Unit = rec.set("output_hash", hashOf(df))

  def fileBytes(names: Seq[String]): Long = names.map(n => new File(o.data, n).length).sum
}

object Lev {
  def distance(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      val cur = new Array[Int](b.length + 1)
      cur(0) = i
      for (j <- 1 to b.length) {
        val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
        cur(j) = math.min(sub, math.min(prev(j) + 1, cur(j - 1) + 1))
      }
      prev = cur
    }
    prev(b.length)
  }
}

/** Linking shape: Etl.extract → canonical dedup → edit-distance self-join
  * (k=2) → connected components → per-cluster collect → deterministic
  * cluster ids → Etl.loadWithMetrics into the parquet-dir sink. The growth
  * step folds a daily slice into the published clusters
  * (ConnectedComponents.mergeRepublish over the slice's edges to the
  * corpus); requests look up the cluster of one record. The warm-up runs
  * the same steps on a slice. */
final class FuzzyLink(s: SparkSession, t: Tracer, r: Recorder, op: Main.Opts)
    extends Workload(s, t, r, op) {
  private val k = manifest.get("max_dist").asInt
  private val rows = manifest.get("rows").asLong
  private val slices = manifest.get("slices").asInt
  private val lookups = manifest.get("lookups").asInt
  private val sink = new Sinks.ParquetDirSink(workDir("sink"))
  private val variants = manifest.get("variants").elements().asScala
    .map(n => (n.get(0).asLong, n.get(1).asLong)).toIndexedSeq
  private var nextLookup = 0
  private var nextSlice = 0
  private var lastPairs: DataFrame = _
  private var lastCanon: DataFrame = _
  private var firstHash: String = _

  private def table(name: String): String = s"${workDir("sink")}/$name"

  private def read(name: String): DataFrame =
    tr.frame("sources", "Csv.readAllString") {
      Csv.readAllString(spark, dataFile(name)).select(col("id").cast("long").as("id"), col("name"))
    }

  private def pass(prefix: String, csv: String): Unit = {
    tr.call("sources", "Etl.extract") { Etl.extract(spark, dataFile(csv)) }
    val recs = spark.table(Etl.ExtractedView).select(col("id").cast("long").as("id"), col("name"))
    val canon = tr.frame("Dedup", "Dedup.canonical") {
      Dedup.canonical(recs, Seq("name"), Seq(col("id")))
    }
    val pairs = tr.frame("EditDistanceJoin", "EditDistanceJoin.pairs") {
      EditDistanceJoin.pairs(canon, "id", "name", k, includeSelf = false)
    }
    val comp = tr.frame("ConnectedComponents", "ConnectedComponents.run") {
      ConnectedComponents.run(canon.select("id"),
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
    }
    val members = recs.join(canon.join(comp, "id").select("name", "component"), "name")
      .select(col("id").cast("string").as("id_s"), col("name"), col("component"))
    // Publishing: cluster rows with deterministic ids, loaded into the sink.
    val m = clocked("publish") {
      val groups = tr.frame("Linker", "Linker.groupCollect") {
        Linker.groupCollect(members, "component", Seq("id_s" -> "ids", "name" -> "names"))
      }
      val clusters = tr.frame("Etl", "Etl.withDeterministicId") {
        Etl.withDeterministicId(groups, "component")
      }
      tr.call("sources", "Etl.loadWithMetrics") {
        Etl.loadWithMetrics(clusters, sink, s"${prefix}_clusters", Seq("ids"))
      }
    }
    if (m("n_rows") <= 0) fail("linking published no clusters")
    if (tr.enabled) rec.set("dedup_keep_ratio", canon.count().toDouble / rows)
    lastPairs = pairs
    lastCanon = canon
  }

  /** Standing (id, component) labels of the published clusters: component
    * is the minimum member id, as ConnectedComponents labels. */
  private def standing(prefix: String): DataFrame =
    spark.read.parquet(table(s"${prefix}_clusters"))
      .select(explode(split(col("ids"), ",").cast("array<bigint>")).as("id"), col("component"))

  private def fold(prefix: String, corpusCsv: String): Unit = {
    nextSlice = nextSlice % slices + 1
    val batch = read(s"slice_$nextSlice.csv")
    val corpus = read(corpusCsv)
    val labels = standing(prefix)
    val toCorpus = tr.frame("EditDistanceJoin", "EditDistanceJoin.pairsAgainst") {
      EditDistanceJoin.pairsAgainst(batch, "id", "name", corpus, "id", "name", k)
    }
    val within = tr.frame("EditDistanceJoin", "EditDistanceJoin.idPairs") {
      EditDistanceJoin.idPairs(batch, "id", "name", k)
    }
    val edges = toCorpus.select(col("left_id").as("src"), col("right_id").as("dst"))
      .unionByName(within.select(col("id_a").as("src"), col("id_b").as("dst")))
    val verts = batch.select("id")
    val next = tr.frame("ConnectedComponents", "ConnectedComponents.mergeRepublish") {
      ConnectedComponents.mergeRepublish(labels, verts, edges)
    }
    tr.call("sources", "ParquetDirSink.overwrite") { sink.overwrite(next, s"${prefix}_labels") }
  }

  private def lookup(prefix: String): Unit = {
    val (vid, cid) = variants(nextLookup * 7919 % variants.size)
    nextLookup += 1
    val got = tr.call("sources", "parquet.lookup") {
      spark.read.parquet(table(s"${prefix}_clusters"))
        .filter(array_contains(split(col("ids"), ","), vid.toString)).select("ids").collect()
    }
    if (got.length != 1 || !got(0).getString(0).split(",").contains(cid.toString))
      fail(s"cluster of record $vid lacks its canonical record $cid")
  }

  def setup(): Unit = {
    pass("warm", "slice_1.csv")
    val warm = manifest.get("slice_variants").get(0).elements().asScala.map(_.get(0).asLong).toSeq
    (0 until 10).foreach { i =>
      spark.read.parquet(table("warm_clusters"))
        .filter(array_contains(split(col("ids"), ","), warm(i % warm.size).toString))
        .select("ids").collect()
    }
  }

  def measure(seconds: Double): Unit = {
    val d = new Deadline(seconds)
    var i = 0
    while ((d.left || i < minCycles(1)) && i < 20) {
      cycle(i) {
        timed("pass") { pass("out", "counterparty.csv") }
        if (firstHash == null) firstHash = hashOf(spark.read.parquet(table("out_clusters")))
        timed("append") { fold("out", "counterparty.csv") }
        (0 until lookups).foreach(_ => timed("serve") { lookup("out") })
      }
      i += 1
    }
    rec.set("rows_per_pass", rows)
  }

  def check(): Unit = {
    val assign = standing("out").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val missing = variants.count { case (v, c) => assign.get(v).isEmpty || assign.get(v) != assign.get(c) }
    rec.check("fuzzy.variants_share_cluster", missing == 0,
      s"$missing of ${variants.size} planted variants outside their canonical record's cluster")
    rec.check("fuzzy.all_records_assigned", assign.size == rows, s"${assign.size} of $rows")
    val names = lastCanon.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val sample = lastPairs.filter(pmod(xxhash64(col("id_a"), col("id_b")), lit(20)) === 0)
      .select("id_a", "key_a", "id_b", "key_b").collect()
    val bad = sample.count { p =>
      !names.get(p.getLong(0)).contains(p.getString(1)) ||
        !names.get(p.getLong(2)).contains(p.getString(3)) ||
        Lev.distance(p.getString(1), p.getString(3)) > k
    }
    rec.check("fuzzy.sampled_pairs_within_k", sample.nonEmpty && bad == 0,
      s"$bad of ${sample.length} sampled pairs fail lev <= $k on the driver")
    // The last fold put each planted typo of the slice in the cluster of its
    // entity's canonical record.
    val folded = spark.read.parquet(table("out_labels")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val truth = manifest.get("slice_variants").get(nextSlice - 1).elements().asScala
      .map(n => (n.get(0).asLong, n.get(1).asLong)).toIndexedSeq
    val misplaced = truth.count { case (v, c) => folded.get(v).isEmpty || folded.get(v) != folded.get(c) }
    rec.check("fuzzy.fold_places_slice_variants", truth.nonEmpty && misplaced == 0,
      s"$misplaced of ${truth.size} slice variants outside their entity's cluster after the fold")
    val h = hashOf(spark.read.parquet(table("out_clusters")))
    rec.check("fuzzy.hash_repeats", h == firstHash, s"$h vs first pass $firstHash")
    rec.set("output_hash", h)
  }
}

/** ANN serving: publish PQ codes of a 64-d mixture with the frozen
  * PqFixture codebooks, then a closed loop of top-5 indexed searches (one
  * client) with a code append after every few requests. The warm-up
  * publishes, searches and appends on a small subset, so the timed calls
  * run JIT-warm. */
final class AnnServe(s: SparkSession, t: Tracer, r: Recorder, op: Main.Opts)
    extends Workload(s, t, r, op) with AdaptiveSparkPlanHelper {
  private val k = manifest.get("k").asInt
  private val slices = manifest.get("append_slices").asInt
  private val sliceVectors = manifest.get("slice_vectors").asLong
  private val perAppend = manifest.get("requests_per_append").asInt
  private val queries = json("queries.json").elements().asScala.map(_.asLong).toIndexedSeq
  // Flat PQ (no IVF coarse cells): the IVF residual serve costs ~40% more
  // per request, which the per-run time budget cannot carry.
  private val coarse: Option[Ann.IvfModel] = None
  private val schema = StructType(Seq(StructField("vec_id", LongType),
    StructField("emb", ArrayType(FloatType, containsNull = false))))
  private var corpus: DataFrame = _
  private var vectors: Map[Long, Array[Float]] = _
  private var dir = ""
  private var appended = 0
  private var nextQuery = 0
  private var filesRead = 0L
  private var served = 0

  def setup(): Unit = {
    corpus = Csv.readAllString(spark, dataFile("embeddings.csv")).select(
      col("vec_id").cast("long").as("vec_id"), col("slice").cast("int").as("slice"),
      split(col("emb"), " ").cast("array<float>").as("emb")).localCheckpoint(true)
    vectors = corpus.select("vec_id", "emb").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    publish(workDir("warm_pq"), col("vec_id") <= 300)
    (0 until 2).foreach(_ => request())
    append()
    nextQuery = 0
  }

  private def publish(d: String, subset: org.apache.spark.sql.Column = lit(true)): Unit = {
    dir = d
    appended = 0
    tr.call("StandingIndex", "Ann.writePqIndex") {
      Ann.writePqIndex(corpus.filter(col("slice") === 0 && subset), "vec_id", "emb",
        PqFixture.model, dir, coarse)
    }
  }

  private def append(): Unit = {
    appended += 1
    tr.call("StandingIndex", "Ann.appendPqIndex") {
      Ann.appendPqIndex(corpus.filter(col("slice") === appended), "vec_id", "emb",
        PqFixture.model, dir, coarse)
    }
  }

  private def request(): Array[Row] = {
    val q = queries(nextQuery % queries.size)
    nextQuery += 1
    val emb = spark.createDataFrame(Seq(Row(q, vectors(q).toSeq)).asJava, schema)
    val (rows, plan) = tr.run("Ann", "Ann.pqSearchIndexed") {
      Ann.pqSearchIndexed(emb, "vec_id", "emb", PqFixture.model, lit(true), k, dir, coarse)
    } { df => (df.collect(), df.queryExecution.executedPlan) }
    if (rows.length != k) fail(s"query $q returned ${rows.length} rows, expected $k")
    if (tr.enabled) {
      served += 1
      filesRead += collectWithSubqueries(plan) {
        case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
    }
    rows
  }

  def measure(seconds: Double): Unit = {
    timed("publish") { publish(workDir("live_pq")) }
    val d = new Deadline(seconds)
    var i = 0
    while ((d.left || i < minCycles(2)) && appended < slices) {
      cycle(i) {
        clocked("pass") {
          (0 until perAppend).foreach(_ => timed("serve") { request() })
          timed("append") { append() }
        }
      }
      i += 1
    }
    rec.set("rows_per_pass", perAppend + sliceVectors)
  }

  def check(): Unit = {
    val current = corpus.filter(col("slice") <= appended)
    val ids = queries.take(math.min(nextQuery, 3)).distinct
    val fused = Ann.pqSearch(current, "vec_id", "emb", PqFixture.model,
      col("vec_id").isin(ids: _*), k, coarse).select("query_id", "rank", "vec_id", "ad2_e12")
    val emb = spark.createDataFrame(ids.map(q => Row(q, vectors(q).toSeq)).asJava, schema)
    val indexed = Ann.pqSearchIndexed(emb, "vec_id", "emb", PqFixture.model, lit(true), k, dir, coarse)
      .select("query_id", "rank", "vec_id", "ad2_e12")
    val a = fused.collect().map(_.toString).sorted.toSeq
    val b = indexed.collect().map(_.toString).sorted.toSeq
    rec.check("ann.indexed_equals_fused", a == b && a.size == ids.size * k,
      s"${a.diff(b).size} differing rows over ${ids.size} sampled queries")
    val n = IndexStats.of(spark, dir)._3
    val vecs = manifest.get("corpus_vectors").asLong + appended * sliceVectors
    rec.check("ann.index_rows", n == vecs * PqFixture.model.m, s"$n code rows for $vecs vectors")
    recordHash(indexed)
  }

  override def traceExtras(): Unit = {
    val (bytes, files, _) = IndexStats.of(spark, dir)
    val input = fileBytes(Seq("embeddings.csv")).toDouble *
      corpus.filter(col("slice") <= appended).count() / corpus.count()
    rec.set("ann_files_read", if (served == 0) 0.0 else filesRead.toDouble / served)
    rec.set("standing_bytes_per_input_byte", bytes / input)
    rec.set("standing_files", files)
  }
}
