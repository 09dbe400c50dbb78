package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The shared machinery of the five standing ANN index lifecycles
  * (round-18 item 4): flat SQ8, sign, PQ flat, PQ-by-cell, SQ8-by-cell
  * each publish a layout plus a contract, append under frozen publish
  * parameters, compact on a files-per-unit policy, and (where recall is
  * corpus-dependent) guard serves behind a growth bar — five parallel
  * implementations in Ann.scala that agreed by convention, not by
  * shared code, so the sixth tier meant a sixth copy. What is actually
  * identical across tiers lives here; what differs (the projection that
  * computes codes/signatures, which parameters are corpus-dependent
  * enough to publish) stays in the tier's own verbs, which now
  * delegate. Everything is behavior-identical to the pre-extraction
  * verbs — the q_* oracle rows and the per-tier specs pin that.
  */
private[graft] object StandingIndex {

  /** Publish a ONE-ROW meta/scale sidecar — the standing contract every
    * tier's serves read back. Written DRIVER-SIDE through parquet-hadoop
    * (optimization round 19): the row is pure publish-time metadata, and
    * the previous `range(1).coalesce(1).write` spent a Spark job plus a
    * commit-protocol pass per sidecar — per-row driver latency the
    * lifecycle rows paid on every publish. The file is ordinary parquet
    * in the same dir layout (one data file under `path/`), so Spark and
    * DuckDB readers are unaffected. Values are typed via [[MetaVal]]
    * (the sidecars only ever carry int/long/double scalars, nullable
    * for unaudited figures).
    */
  sealed trait MetaVal
  final case class MetaInt(v: Int) extends MetaVal
  final case class MetaLong(v: Long) extends MetaVal
  final case class MetaDouble(v: Double) extends MetaVal
  /** SQL NULL of double type — the unaudited-figure pattern. */
  case object MetaNullDouble extends MetaVal
  /** The publish-time audited-figure pattern (None publishes a typed
    * NULL, which [[MetaRow.opt]] reads back as None).
    */
  def optVal(v: Option[Double]): MetaVal =
    v.map(MetaDouble).getOrElse(MetaNullDouble)

  def publishMetaRow(spark: SparkSession, path: String,
                     cols: Seq[(String, MetaVal)]): Unit = {
    import org.apache.parquet.schema.{PrimitiveType, Type, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    // written under a dot-prefixed sibling (hidden from every reader) and
    // renamed into place, so a reader never sees a half-written file
    val tmp = new org.apache.hadoop.fs.Path(root.getParent,
      s".${root.getName}.tmp-${java.util.UUID.randomUUID()}")
    val fields = cols.map { case (name, v) =>
      val tn = v match {
        case MetaInt(_)                      => INT32
        case MetaLong(_)                     => INT64
        case MetaDouble(_) | MetaNullDouble  => DOUBLE
      }
      new PrimitiveType(Type.Repetition.OPTIONAL, tn, name)
    }
    val schema = new org.apache.parquet.schema.MessageType("meta",
      fields: _*)
    val file = new org.apache.hadoop.fs.Path(tmp, "part-00000.parquet")
    try {
      val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
          .fromPath(file, conf))
        .withType(schema).build()
      try {
        val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
        cols.foreach {
          case (n, MetaInt(v))    => g.add(n, v)
          case (n, MetaLong(v))   => g.add(n, v)
          case (n, MetaDouble(v)) => g.add(n, v)
          case (_, MetaNullDouble) => // absent = NULL under OPTIONAL
        }
        writer.write(g)
      } finally writer.close()
    } catch { case e: Throwable => fs.delete(tmp, true); throw e }
    if (fs.exists(root) && !fs.delete(root, true))
      throw new java.io.IOException(s"publishMetaRow: delete of $path failed")
    if (!fs.rename(tmp, root))
      throw new java.io.IOException(s"publishMetaRow: rename $tmp -> $path failed")
  }

  /** Tolerant reader over a published meta row: fields added to a
    * sidecar AFTER an index was published must not strand it (the
    * round-17 SQ8 rule — only a GRID change forces a rebuild, so a
    * sidecar-schema addition reads as None/default on old indexes).
    * Driver-side parquet-hadoop read (round 19) — a one-row contract
    * fetch must not cost a Spark job; reads Spark-written sidecars
    * unchanged (standard parquet primitives).
    */
  final class MetaRow(path: String, vals: Map[String, Any]) {
    def opt[T](name: String)(implicit ct: scala.reflect.ClassTag[T])
        : Option[T] =
      vals.get(name).map(typed[T](name, _))
    def get[T](name: String)(implicit ct: scala.reflect.ClassTag[T]): T =
      typed[T](name, vals.getOrElse(name, throw new NoSuchElementException(
        s"meta sidecar at $path has no field '$name'")))

    /** The boxed value checked against the requested type here, where the
      * field and path are known, not as a ClassCastException at the use.
      */
    private def typed[T](name: String, v: Any)(
        implicit ct: scala.reflect.ClassTag[T]): T = {
      val want = ct.runtimeClass match {
        case java.lang.Integer.TYPE => classOf[java.lang.Integer]
        case java.lang.Long.TYPE    => classOf[java.lang.Long]
        case java.lang.Double.TYPE  => classOf[java.lang.Double]
        case java.lang.Float.TYPE   => classOf[java.lang.Float]
        case java.lang.Boolean.TYPE => classOf[java.lang.Boolean]
        case c                      => c
      }
      if (!want.isInstance(v))
        throw new IllegalArgumentException(
          s"meta sidecar at $path: field '$name' is " +
            s"${v.getClass.getSimpleName}, expected ${want.getSimpleName}")
      v.asInstanceOf[T]
    }
  }

  def readMetaRow(spark: SparkSession, path: String): MetaRow = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val conf = spark.sparkContext.hadoopConfiguration
    val dataFile = listDataFiles(spark, path) match {
      case Seq(f) => f
      case Seq() => throw new java.io.FileNotFoundException(
        s"no parquet data file under meta sidecar dir $path")
      case fs => throw new IllegalStateException(
        s"meta sidecar dir $path holds ${fs.size} data files, expected " +
          s"exactly one: ${fs.map(_.getName).sorted.mkString(", ")}")
    }
    val reader = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
        dataFile)
      .withConf(conf).build()
    try {
      val g = reader.read()
      require(g != null, s"meta sidecar at $path is empty")
      val tpe = g.getType
      val vals = (0 until tpe.getFieldCount).flatMap { i =>
        val f = tpe.getType(i).asPrimitiveType()
        if (g.getFieldRepetitionCount(i) == 0) None
        else Some(f.getName -> (f.getPrimitiveTypeName match {
          case INT32  => g.getInteger(i, 0)
          case INT64  => g.getLong(i, 0)
          case DOUBLE => g.getDouble(i, 0)
          case FLOAT  => g.getFloat(i, 0)
          case BOOLEAN => g.getBoolean(i, 0)
          case other => throw new IllegalArgumentException(
            s"meta sidecar field ${f.getName} has unsupported type $other")
        }))
      }.toMap
      new MetaRow(path, vals)
    } finally reader.close()
  }

  /** Recursive listing of an index dir's parquet DATA files (committer
    * droppings excluded) — the one walk behind the byte pricer, the
    * footer counters and the compaction-depth counters, so their file
    * filters can never drift from each other.
    */
  def listDataFileStatuses(spark: SparkSession, dir: String)
      : Seq[org.apache.hadoop.fs.LocatedFileStatus] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val it = root.getFileSystem(conf).listFiles(root, true)
    val buf = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.hadoop.fs.LocatedFileStatus]
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (f.isFile && name.endsWith(".parquet") &&
          !name.startsWith("_") && !name.startsWith(".")) buf += f
    }
    buf.toSeq
  }

  def listDataFiles(spark: SparkSession,
                    dir: String): Seq[org.apache.hadoop.fs.Path] =
    listDataFileStatuses(spark, dir).map(_.getPath)

  /** Corpus size of an index dir from the parquet FOOTERS — a
    * driver-side metadata read (no Spark job), the cost class every
    * dispatch input and drift guard is held to.
    */
  def parquetRowCount(spark: SparkSession, dir: String): Long =
    dirStats(spark, dir)._2

  /** Total data-file bytes of an index dir — the dispatch-time byte
    * pricer: getLen off the shared walk only; no footer opens, no
    * Spark job.
    */
  def dirDataBytes(spark: SparkSession, dir: String): Long =
    listDataFileStatuses(spark, dir).map(_.getLen).sum

  /** (bytes, rows) of an index dir off ONE listing walk — for dispatch
    * sites that need both the byte price and the drift guard's corpus
    * count (round-18 review: pricing and counting as separate calls
    * walked the same directory twice). Bytes from the statuses; rows
    * from the footers of the same file list.
    */
  def dirStats(spark: SparkSession, dir: String): (Long, Long) = {
    val statuses = listDataFileStatuses(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    var rows = 0L
    statuses.foreach { s =>
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          s.getPath, conf))
      try rows += rd.getRecordCount finally rd.close()
    }
    (statuses.map(_.getLen).sum, rows)
  }

  /** The dispatch-side drift rule, pure for the spec: a standing index
    * whose corpus has grown past `bar` × its publish-time size can no
    * longer claim its published recall (that figure was measured on the
    * publish corpus), and its OWN serve guard would fail it loudly
    * anyway — so a dispatcher must treat it as not standing at all
    * rather than route a soft "pick me a tier" call into a crash.
    */
  def driftExcluded(n: Long, published: Long, bar: Double): Boolean =
    n > published * bar

  /** Deterministic fingerprint of a coarse-quantizer centroid set — the
    * binding between a cell-partitioned index and the centroids that
    * PARTITIONED it (round-17 advice: nothing stopped a serve from
    * probing a standing IVF-SQ8 layout with a different IvfModel — the
    * cells probed then don't correspond to the code layout, and recall
    * collapses SILENTLY below the published figure, invisible to the
    * corpus-growth drift guard). Pure arithmetic over the exact double
    * bits (order-normalized by cid), so the same frozen model
    * fingerprints identically across JVMs and rounds; pinned in
    * AnnSpec.
    */
  def centroidFingerprint(cs: Array[(Int, Seq[Double])]): Long = {
    var h = 1125899906842597L
    cs.sortBy(_._1).foreach { case (cid, v) =>
      h = h * 31 + cid
      v.foreach(d => h = h * 31 + java.lang.Double.doubleToLongBits(d))
    }
    h
  }

  /** The serve/append/dispatch-time centroid-binding guard: a published
    * fingerprint must match the caller's model; a pre-round-18 sidecar
    * (no fingerprint column → None) passes — the tolerant-sidecar rule,
    * because refusing every standing index over an added column is the
    * exact stranding the round-17 review fixed.
    */
  def requireCentroidFpMatch(publishedFp: Option[Long],
                             cs: Array[(Int, Seq[Double])],
                             dir: String, verb: String): Unit =
    publishedFp.foreach { fp =>
      require(fp == centroidFingerprint(cs),
        s"$verb: the IvfModel passed for $dir is not the one the index " +
          "was partitioned with (centroid fingerprint mismatch) — " +
          "probing with foreign centroids visits cells that don't " +
          "correspond to the code layout and silently collapses recall; " +
          "pass the publish-time model or republish with " +
          "writeSq8IndexByCell under the new one")
    }

  /** THE corpus-growth drift message (spec'd once in AnnSpec): every
    * tier whose recall is corpus-dependent through publish-time state
    * (sign: recall at fixed C; IVF-SQ8: routing through frozen
    * centroids) fails a serve past the bar with the same shape —
    * what grew, by how much, why that degrades recall, and the exact
    * retune tool + republish verb that fix it.
    */
  def driftMessage(tier: String, dir: String, n: Long, published: Long,
                   factor: Double, reason: String, retuneTool: String,
                   republishVerb: String): String =
    s"$tier index at $dir has grown to $n vectors from $published " +
      s"at publish (> ${factor}x): $reason — re-run " +
      s"graft.tools.$retuneTool and republish ($republishVerb) " +
      "before serving"

  /** The serve-side growth guard: decision from [[driftExcluded]]'s
    * bar arithmetic (the same predicate dispatch uses to exclude a
    * tier), message from [[driftMessage]].
    */
  def requireWithinDriftBar(n: Long, published: Long, factor: Double,
                            tier: String, dir: String, reason: String,
                            retuneTool: String,
                            republishVerb: String): Unit =
    require(!driftExcluded(n, published, factor),
      driftMessage(tier, dir, n, published, factor, reason, retuneTool,
        republishVerb))

  /** Standing-code reader for both layouts; returns
    * (codes, isCellPartitioned). A cell-partitioned dir re-infers its
    * `cell` partition column as INT from the directory names — which is
    * also how the layout is DETECTED (the flat writers store cell as a
    * long data column) — and the re-read with the long type the writer
    * had keeps the downstream join key cast-free, so the static cell
    * filter prunes at the partition level.
    */
  def readCodeIndex(spark: SparkSession,
                    indexDir: String): (DataFrame, Boolean) = {
    val raw = spark.read.parquet(indexDir)
    if (raw.schema.exists(f => f.name == "cell" &&
        f.dataType != org.apache.spark.sql.types.LongType)) {
      val fixed = org.apache.spark.sql.types.StructType(raw.schema.map(f =>
        if (f.name == "cell")
          f.copy(dataType = org.apache.spark.sql.types.LongType)
        else f))
      (spark.read.schema(fixed).parquet(indexDir), true)
    } else (raw, false)
  }

  /** Cell-partitioned write/append: repartition by cell BEFORE
    * partitionBy so each touched cell lands as ONE file per batch (the
    * small-files guard every cell tier states) — and, on append, the
    * shuffle drops empty batches so no empty-batch guard is needed.
    */
  def writeCells(codes: DataFrame, dir: String, mode: String): Unit =
    codes.repartition(col("cell"))
      .write.partitionBy("cell").mode(mode).parquet(dir)

  /** The cell-partitioned compaction MECHANISM (one copy for every cell
    * tier — PQ-by-cell and SQ8-by-cell route here): rewrite `rows` back
    * to one file per cell via a staging dir (an in-place overwrite
    * deletes the very files its job would read), then swap staging into
    * place. Crash window: the delete→rename swap is not atomic — a
    * crash between the two leaves the index ABSENT at `dir` with the
    * full compacted copy intact at `dir__compact_staging` (recover by
    * renaming it back). Run from the nightly maintenance window like
    * every compact verb. Returns the post-swap data-file count.
    */
  def compactCellsStagingSwap(spark: SparkSession, dir: String,
                              rows: DataFrame, verb: String): Int = {
    val staging = dir.stripSuffix("/") + "__compact_staging"
    writeCells(rows, staging, "overwrite")
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(conf)
    // A failed delete must be loud: on HDFS-semantics filesystems a
    // rename into a still-existing directory nests staging INSIDE it
    // and returns true, so old and compacted copies would coexist while
    // the verb reports success with an inflated file count.
    if (fs.exists(root) && !fs.delete(root, true))
      throw new java.io.IOException(
        s"$verb: delete of $dir failed; compacted index left at staging")
    if (!fs.rename(new org.apache.hadoop.fs.Path(staging), root))
      throw new java.io.IOException(
        s"$verb: rename $staging -> $dir failed; " +
          "compacted index left at staging")
    listDataFiles(spark, dir).size
  }

  /** Flat append with the empty-batch stray-file guard: an
    * unpartitioned append of an empty plan still lays down one empty
    * data file (FileFormatWriter emits it so a fresh dir stays
    * schema-readable) and on an append that file is a stray the serve
    * re-opens forever. `probe` is the RAW batch (a take(1) scans at
    * most one split); probing the derived code plan would execute the
    * encode once and the write would re-run it.
    */
  def appendFlat(probe: DataFrame, rows: => DataFrame, dir: String): Unit =
    if (!probe.isEmpty) rows.write.mode("append").parquet(dir)
}
