package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Outcome of one incremental upsert batch: how many of the target's
  * fixed hash-buckets were rewritten. `rewrittenFraction` < 1 is the
  * delta-proportionality witness — untouched buckets are never read,
  * merged or rewritten, so per-batch cost is ∝ |delta| × bucketSize,
  * not ∝ |target|.
  */
final case class BucketUpsertStats(touchedBuckets: Int, totalBuckets: Int) {
  def rewrittenFraction: Double = touchedBuckets.toDouble / totalBuckets
}

/** Delta-proportional incremental-sync target (the load side of the
  * reference's `action: "sync"` flow, reference `src/types.ts:103`, at
  * the scale where rewriting the whole destination per batch stops being
  * an option).
  *
  * Layout: the parquet table lives as `numBuckets` FIXED hash-buckets of
  * the upsert key — subdirectories `b0 … b{N-1}` with every row of a key
  * in exactly one bucket (`pmod(hash(keys), N)`). A micro-batch then:
  *
  *   1. computes the delta's touched bucket ids (a distinct over ≤ N
  *      small integers — metadata-scale),
  *   2. reads ONLY those bucket directories, latest-wins-merges them
  *      with the delta in one shuffle job ([[Merge.latest]], map-side
  *      combinable), writing all rewritten buckets via one
  *      `partitionBy` pass,
  *   3. swaps each rewritten bucket in with the same
  *      never-delete-before-replace rename dance as [[Layout.compact]]
  *      — per bucket, so a crash at any point leaves every bucket
  *      readable either in place or under `__old`.
  *
  * Untouched buckets are untouched files — byte-identical across the
  * batch (asserted by `BucketedTargetSpec`). Replay is safe twice over:
  * latest-wins upsert is associative, commutative AND idempotent, and
  * [[recover]] heals any bucket a crash left mid-swap before the next
  * merge reads it.
  *
  * On a 100 TB target, size `numBuckets` so a bucket is a few GB
  * (e.g. 64k buckets): each sync then rewrites only the few GB that
  * contain delta keys instead of the full table.
  */
final class BucketedTarget(spark: SparkSession, path: String, numBuckets: Int,
                           keys: Seq[String], versionCols: Seq[String]) {
  require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")

  private val root = new Path(path)
  private val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val BucketName = "^b([0-9]+)$".r
  private val metaPath = new Path(root, "_graft_meta.json")

  private def bucketDir(i: Int): Path = new Path(root, s"b$i")
  private def bucketExpr = pmod(hash(keys.map(col): _*), lit(numBuckets))

  /** Heal buckets a crash left between the two swap renames: target dir
    * missing but its `__old` copy present → rename back. Idempotent.
    * The FULL sweep is one directory listing (never numBuckets exists
    * probes — at 64k buckets that would be 128k namenode calls); it runs
    * once at construction to cover crash-restart. Per batch only the
    * delta-touched buckets are re-checked ([[recoverBuckets]]) — within
    * a session nothing else can be mid-swap.
    */
  def recover(): Unit =
    if (fs.exists(root))
      fs.listStatus(root).map(_.getPath.getName).collect {
        case n if n.endsWith("__old") => n.stripSuffix("__old").drop(1).toInt
      }.foreach(recoverBucket)

  private def recoverBucket(i: Int): Unit = {
    val tgt = bucketDir(i)
    val old = new Path(root, s"b${i}__old")
    if (fs.exists(old)) {
      if (!fs.exists(tgt))
        require(fs.rename(old, tgt), s"bucket recovery failed: $old -> $tgt")
      else
        // target AND __old coexist only after a crash between the second
        // rename and the cleanup delete — the target is complete, the
        // __old copy is stale; drop it or it leaks a bucket per crash
        fs.delete(old, true)
    }
  }

  private def recoverBuckets(touched: Array[Int]): Unit = touched.foreach(recoverBucket)

  /** The layout is FIXED at first write: a later writer hashing the same
    * key with a different `numBuckets` (or different keys) would route it
    * to a different bucket dir, and `read()`'s union would silently
    * return both versions — breaking latest-wins. So the first upsert
    * persists (numBuckets, keys, versionCols, schema) to
    * `_graft_meta.json` and every construction against an existing
    * target validates its own parameters against it. Targets written
    * before the meta file existed are covered by the bucket-id backstop:
    * an on-disk `b{i}` with i >= numBuckets proves a layout mismatch.
    */
  private def validateOrThrowOnLayoutMismatch(): Unit = {
    readMeta() match {
      case Some(m) =>
        def bad(field: String, disk: String, cons: String) = new IllegalArgumentException(
          s"bucketed target layout mismatch at $path: on-disk $field=$disk, constructor $field=$cons " +
            "(the layout is fixed at first write; construct with the persisted parameters)")
        if (m.numBuckets != numBuckets) throw bad("numBuckets", m.numBuckets.toString, numBuckets.toString)
        if (m.keys != keys) throw bad("keys", m.keys.mkString(","), keys.mkString(","))
        if (m.versionCols != versionCols) throw bad("versionCols", m.versionCols.mkString(","), versionCols.mkString(","))
      case None =>
        val ids = listBucketIds()
        if (ids.exists(_ >= numBuckets)) throw new IllegalArgumentException(
          s"bucketed target layout mismatch at $path: found bucket b${ids.max} but numBuckets=$numBuckets")
    }
  }

  private case class Meta(numBuckets: Int, keys: Seq[String],
                          versionCols: Seq[String], schemaJson: String) {
    def schema: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.DataType.fromJson(schemaJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
  }

  // hand-rolled JSON (flat strings + one int) — no jackson dependency in
  // the hot path and the schema field is already JSON via StructType.json
  private def writeMeta(schemaJson: String): Unit = {
    def arr(xs: Seq[String]) = xs.map(s => "\"" + s + "\"").mkString("[", ",", "]")
    val body =
      s"""{"numBuckets":$numBuckets,"keys":${arr(keys)},"versionCols":${arr(versionCols)},"schema":$schemaJson}"""
    val out = fs.create(metaPath, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  private def readMeta(): Option[Meta] =
    if (!fs.exists(metaPath)) None
    else {
      val in = fs.open(metaPath)
      val txt = try {
        val bs = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bs.write(buf, 0, n); n = in.read(buf) }
        bs.toString("UTF-8")
      } finally in.close()
      // parse with Spark's bundled json4s (same artifact StructType.json uses)
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      implicit val fmts: Formats = DefaultFormats
      val j = JsonMethods.parse(txt)
      Some(Meta(
        (j \ "numBuckets").extract[Int],
        (j \ "keys").extract[Seq[String]],
        (j \ "versionCols").extract[Seq[String]],
        JsonMethods.compact(JsonMethods.render(j \ "schema"))))
    }

  private def listBucketIds(): Array[Int] =
    if (fs.exists(root))
      fs.listStatus(root).map(_.getPath.getName).collect {
        case BucketName(i) => i.toInt
      }
    else Array.empty[Int]

  recover() // heal any crash-interrupted swap before the first read/merge
  validateOrThrowOnLayoutMismatch()

  /** Latest-wins upsert of `delta` into the target, rewriting only the
    * buckets whose keys the delta touches. Returns the rewritten-bucket
    * count so callers (and specs) can assert delta-proportionality.
    */
  def upsert(delta: DataFrame): BucketUpsertStats = {
    // the layout meta pins the schema, so the base read below never needs
    // a footer-inference job (the stream merge-read discipline)
    val pinnedSchema = readMeta() match {
      case Some(m) => m.schema
      case None => // pin the layout at first write
        writeMeta(delta.schema.json)
        delta.schema
    }
    val d = delta.withColumn("__b", bucketExpr)
    d.persist()
    try {
      // touched-bucket discovery doubles as the cache materialization:
      // collect_set is a 2-stage global agg (one reduce task), lighter
      // than a full-width distinct shuffle for ≤ numBuckets values
      val touched = d.agg(collect_set(col("__b"))).head()
        .getSeq[Int](0).sorted.toArray
      recoverBuckets(touched) // namenode cost ∝ delta, like everything else here
      val existing = touched.map(bucketDir).filter(fs.exists).map(_.toString)
      val base =
        if (existing.nonEmpty)
          spark.read.schema(pinnedSchema)
            .parquet(existing.toSeq: _*).withColumn("__b", bucketExpr)
        else d.limit(0)
      // __b is a pure function of the keys, so adding it to the grouping
      // keys changes nothing semantically — it just survives the merge to
      // drive the partitionBy write without a recompute.
      val merged = Merge.latest(base.unionByName(d), keys :+ "__b", versionCols)
      val tmp = new Path(root, "__swap")
      // co-locate each bucket's rows before the partitionBy write: without
      // this every shuffle partition fans out across every touched bucket
      // dir (partitions × buckets tiny files per batch — measured 4× on
      // the end-to-end sync). One file per bucket at this scale; a 100 TB
      // deployment raises the partition count to get its target file size
      merged.repartition(math.max(1, touched.length), col("__b"))
        .write.partitionBy("__b").mode("overwrite").parquet(tmp.toString)
      touched.foreach { i =>
        val src = new Path(tmp, s"__b=$i")
        val tgt = bucketDir(i)
        val old = new Path(root, s"b${i}__old")
        fs.delete(old, true)
        if (fs.exists(tgt)) require(fs.rename(tgt, old), s"bucket swap failed: $tgt -> $old")
        require(fs.rename(src, tgt), s"bucket swap failed: $src -> $tgt")
        fs.delete(old, true)
      }
      fs.delete(tmp, true)
      BucketUpsertStats(touched.length, numBuckets)
    } finally d.unpersist()
  }

  /** Point-lookup path: read ONLY the buckets the probe keys hash to —
    * the serving-side payoff of the fixed hash layout (at 64k buckets a
    * single-key lookup reads 1/64k of the table; no index structure to
    * maintain). `probes` carries exactly the key columns; bucket ids are
    * computed by the same in-plan expression the writer used (no
    * driver-side hash twin to drift), then the rows are filtered by a
    * broadcast semi-join against the probes.
    */
  def lookup(probes: DataFrame): DataFrame = {
    require(probes.columns.toSeq == keys,
      s"lookup probes must carry exactly the key columns $keys, got ${probes.columns.toSeq}")
    val ids = probes.withColumn("__b", bucketExpr)
      .agg(collect_set(col("__b"))).head().getSeq[Int](0)
    val dirs = ids.map(bucketDir).filter(fs.exists).map(_.toString)
    if (dirs.isEmpty) read().limit(0)
    else spark.read.parquet(dirs: _*).join(broadcast(probes), keys, "left_semi")
  }

  /** Read the current state: union of all bucket directories. Listed
    * explicitly (never a recursive glob) so stray `__old`/`__swap`
    * remnants of an in-flight batch are invisible to readers. A target
    * whose first batch matched zero rows (meta written, no buckets) reads
    * as an EMPTY frame with the persisted schema — not an error.
    */
  def read(): DataFrame = {
    val dirs =
      if (fs.exists(root))
        fs.listStatus(root).collect {
          case st if st.isDirectory && BucketName.findFirstIn(st.getPath.getName).isDefined =>
            st.getPath.toString
        }.sorted
      else Array.empty[String]
    val metaSchema = readMeta().map(_.schema)
    if (dirs.nonEmpty)
      // the pinned layout schema skips the footer-inference job
      metaSchema.fold(spark.read)(spark.read.schema(_)).parquet(dirs.toSeq: _*)
    else metaSchema match {
      case Some(schema) =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      case None =>
        throw new IllegalStateException(
          s"empty bucketed target at $path: never written (no buckets, no _graft_meta.json)")
    }
  }
}
