package perfbench

import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.sources.zarr._

/** The traced run's per-layer numbers. Each probe wraps calls into one
  * module's public functions in spans and derives the layer's rate from
  * the spans' self time; nothing inside the program is instrumented.
  * Every traced run measures every layer on inputs built from the same
  * seed, so the metric set does not depend on the workload; the Spark
  * engine counters and the op latencies come from the workload's own
  * traced loop. */
object LayerProbes {

  private val MB = 1048576.0

  final class Out {
    val m = mutable.LinkedHashMap.empty[String, ListMap[String, Any]]
    def put(name: String, v: Double, unit: String): Unit = m(name) = Main.metric(v, unit)
  }

  /** Run `body` under span `name`, `reps` times; the median self time in
    * milliseconds of those spans. */
  private def timedMs(tr: Tracer, name: String, reps: Int)(body: => Any): Double = {
    val before = tr.spans.length
    (0 until reps).foreach(_ => tr.span(name)(body))
    selfMs(tr, name, before)
  }

  /** Median self time (ms) of spans named `name` recorded after index `from`. */
  private def selfMs(tr: Tracer, name: String, from: Int): Double = {
    val self = Tracer.selfTimes(tr.spans)
    Stats.median(tr.spans.drop(from).filter(_.name == name).map(s => self(s.id) / 1e6))
  }

  /** Total self time (s) of spans named `name` recorded after `from`. */
  private def selfS(tr: Tracer, name: String, from: Int): Double = {
    val self = Tracer.selfTimes(tr.spans)
    tr.spans.drop(from).filter(_.name == name).map(s => self(s.id)).sum / 1e9
  }

  /** Every physical operator, looking through adaptive stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  def scans(p: SparkPlan): Seq[BatchScanExec] = nodes(p).collect { case b: BatchScanExec => b }

  def zarrPartitions(b: BatchScanExec): Seq[ZarrInputPartition] = b.inputPartitions.collect {
    case k: ZarrKeyedInputPartition => k.p
    case p: ZarrInputPartition => p
  }

  private def chunkIndices(meta: ZarrArrayMeta): Seq[Seq[Long]] =
    meta.chunkGrid.foldLeft(Seq(Seq.empty[Long])) { (acc, n) => for (a <- acc; i <- 0L until n) yield a :+ i }

  /** Sum of the touched bytes, kept so the reads cannot be elided. */
  private var touched = 0L

  /** Read one byte of every page of `b`, so a mapping is faulted in. */
  private def touchPages(b: java.nio.ByteBuffer): Unit = {
    var sum = 0L
    var i = b.position()
    while (i < b.limit()) { sum += b.get(i); i += 4096 }
    touched += sum
  }

  def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
  }

  def run(spark: SparkSession, a: Main.Args, tr: Tracer, engine: EngineListener,
      rec: Recorder, workload: Workload): ListMap[String, Any] = {
    val out = new Out
    val loopSpans = tr.spans
    val cores = spark.sparkContext.defaultParallelism
    tr.op = 1000000L

    // ---- Spark engine counters over the traced loop
    def loopMedianMs(name: String) = {
      val d = loopSpans.filter(_.name == name).map(_.durNs / 1e6)
      if (d.isEmpty) 0.0 else Stats.median(d)
    }
    out.put("spark.plan_ms", loopMedianMs("spark.plan"), "ms")
    out.put("spark.exec_ms", loopMedianMs("spark.exec"), "ms")
    out.put("spark.jobs", engine.jobs.toDouble, "count")
    out.put("spark.tasks", engine.tasks.toDouble, "count")
    out.put("spark.busy_ratio", engine.busyRatio(cores), "ratio")
    out.put("spark.task_skew", engine.taskSkew, "ratio")
    out.put("spark.shuffle_write_bytes", engine.shuffleWrite.toDouble, "bytes")
    out.put("spark.gc_ms", engine.gcMs.toDouble, "ms")

    scanLayers(spark, a, tr, workload, out)
    writeLayers(spark, a, tr, workload, out)
    corpusLayers(spark, a, tr, rec, workload, out)
    ListMap(out.m.toSeq: _*)
  }

  // ------------------------------------------------------------------ scan

  private def scanLayers(spark: SparkSession, a: Main.Args, tr: Tracer, workload: Workload, out: Out): Unit = {
    val scan = workload match {
      case s: Era5Scan => s
      case _ =>
        val s = new Era5Scan
        s.setup(spark, a.work.resolve("probe_era5"), a.seed)
        s
    }
    val g = scan.grid
    val path = (c: String) => scan.dir.resolve(c).toString

    out.put("ZarrMeta.readStore_ms",
      Stats.median(Era5Grid.copies.map(c => timedMs(tr, "ZarrMeta.readStore", 5)(ZarrMeta.readStore(path(c))))), "ms")

    // store fetch of every chunk object, the way ChunkIO fetches it:
    // uncompressed unsharded chunks through mapBytes (the mapping's pages
    // touched, as a decode would), the rest through readBytes; then each
    // codec stage on its own
    val payloads = mutable.Map.empty[String, Seq[(ZarrArrayMeta, Array[Byte])]]
    var objects = 0L
    Era5Grid.copies.foreach { c =>
      val meta = ZarrMeta.readStore(path(c))
      val store = ZarrStore.open(path(c))
      val from = tr.spans.length
      val got = meta.dataVars.flatMap(v => chunkIndices(v).map { idx =>
        val key = s"${v.name}/${v.chunkKey(idx)}"
        if (v.sharding.isEmpty && v.compressor.id == "none" && !v.deltaFilter) {
          val buf = tr.span("ZarrStore.fetch") {
            val b = store.mapBytes(key).get
            touchPages(b)
            b
          }
          val bytes = new Array[Byte](buf.remaining())
          buf.duplicate().get(bytes)
          v -> bytes
        } else v -> tr.span("ZarrStore.fetch")(store.readBytes(key).get)
      })
      objects += got.length
      payloads(c) = got
      out.put(s"ZarrStore.read_MBps.$c", got.map(_._2.length).sum / MB / selfS(tr, "ZarrStore.fetch", from), "MB/s")
    }
    out.put("ZarrStore.objects_read", objects.toDouble, "count")

    def decompressMBps(name: String, frames: Seq[(Array[Byte], ZarrCompressor, Int)]): Double = {
      val from = tr.spans.length
      (0 until 3).foreach(_ => frames.foreach { case (f, comp, raw) =>
        tr.span(name)(ChunkCodec.decompress(f, comp, raw))
      })
      3 * frames.map(_._3.toLong).sum / MB / selfS(tr, name, from)
    }
    val blosc = payloads("v2_blosc").map { case (m, b) => (b, m.compressor, m.chunks.product * 4) }
    out.put("ChunkCodec.decompress_MBps.blosc", decompressMBps("ChunkCodec.decompress.blosc", blosc), "MB/s")
    val zstd = payloads("v3_zstd_sharded").flatMap { case (m, shard) =>
      val spec = m.sharding.get
      val nInner = m.chunks.zip(spec.innerChunks).map { case (c, i) => c / i }.product
      val base = shard.length - 4 - nInner * 16 // (offset, nbytes) index, then crc32c
      val idx = java.nio.ByteBuffer.wrap(shard).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until nInner).map { k =>
        val off = idx.getLong(base + k * 16).toInt
        val n = idx.getLong(base + k * 16 + 8).toInt
        (java.util.Arrays.copyOfRange(shard, off, off + n), spec.innerComp, spec.innerChunks.product * 4)
      }
    }
    out.put("ChunkCodec.decompress_MBps.zstd", decompressMBps("ChunkCodec.decompress.zstd", zstd), "MB/s")
    val rawChunks = payloads("v2_raw")
    val fromDecode = tr.spans.length
    (0 until 3).foreach(_ => rawChunks.foreach { case (m, b) =>
      tr.span("ChunkCodec.decodeTyped")(ChunkCodec.decodeTyped(b, m.dtype, m.chunks.product))
    })
    out.put("ChunkCodec.decodeTyped_MBps",
      3 * rawChunks.map(_._2.length.toLong).sum / MB / selfS(tr, "ChunkCodec.decodeTyped", fromDecode), "MB/s")

    // whole-chunk reads through ChunkIO (fetch + decompress + decode,
    // sharded decode included)
    Era5Grid.copies.foreach { c =>
      val meta = ZarrMeta.readStore(path(c))
      val store = ZarrStore.open(path(c))
      val from = tr.spans.length
      var decoded = 0L
      meta.dataVars.foreach(v => chunkIndices(v).foreach { idx =>
        tr.span("ChunkIO.readChunk")(ChunkIO.readChunk(store, v, idx))
        decoded += v.chunks.product.toLong * v.dtype.size
      })
      out.put(s"ChunkIO.readChunk_MBps.$c", decoded / MB / selfS(tr, "ChunkIO.readChunk", from), "MB/s")
    }

    // planning, partitioning and the scan's own counters on a full scan
    val groupBy = (c: String) =>
      s"SELECT time, hybrid, sum(geopotential), sum(temperature), count(*) FROM $c GROUP BY time, hybrid"
    val planSql = (c: String) => Seq(s"SELECT sum(temperature) FROM $c", groupBy(c),
      s"SELECT sum(temperature) FROM $c WHERE time = ${g.times(1)} AND hybrid = ${g.hybrids(1)}",
      s"SELECT count(*), sum(geopotential) FROM $c WHERE latitude BETWEEN 0 AND 45",
      s"SELECT * FROM $c LIMIT 1000", s"SELECT count(*) FROM $c",
      s"SELECT min(latitude), max(latitude) FROM $c")
    val planFrom = tr.spans.length
    Era5Grid.copies.foreach(c => planSql(c).foreach { q =>
      val df = spark.sql(q)
      tr.span("ZarrDataSource.plan")(df.queryExecution.executedPlan)
    })
    out.put("ZarrDataSource.plan_ms", selfMs(tr, "ZarrDataSource.plan", planFrom), "ms")

    val fullScan = spark.sql(s"SELECT * FROM v2_raw")
    out.put("ZarrDataSource.partitions",
      scans(fullScan.queryExecution.executedPlan).map(zarrPartitions(_).length).sum.toDouble, "count")
    val slice = spark.sql(s"SELECT temperature FROM v2_raw WHERE time = ${g.times(1)} AND hybrid = ${g.hybrids(0)}")
    val sliceRows = scans(slice.queryExecution.executedPlan).flatMap(zarrPartitions).map(p => p.rowEnd - p.rowStart).sum
    out.put("GridMath.rows_selected_ratio", sliceRows.toDouble / g.totalRows, "ratio")

    Era5Grid.copies.foreach { c =>
      val meta = ZarrMeta.readStore(path(c))
      val chunks = meta.dataVars.map(v => chunkIndices(v).length).sum
      val df = spark.sql(groupBy(c))
      val before = ChunkIO.decodeCount.get()
      tr.span("probe.exec")(df.collect())
      out.put(s"ChunkIO.decodes_per_chunk.$c", (ChunkIO.decodeCount.get() - before).toDouble / chunks, "ratio")
      val metrics = scans(df.queryExecution.executedPlan).map(_.metrics)
      out.put(s"ZarrDataSource.zarrBytesRead.$c",
        metrics.flatMap(_.get("zarrBytesRead")).map(_.value).sum.toDouble, "bytes")
      out.put(s"ZarrDataSource.zarrChunksDecoded.$c",
        metrics.flatMap(_.get("zarrChunksDecoded")).map(_.value).sum.toDouble, "count")
    }

    // opt-in chunk cache: the same slice sequence with the cache on and
    // off; misses are the decodes the cached run still made. The cache
    // holds three planes, so the sequence A B C A D B hits on the second
    // A only, whichever four distinct planes the seed picks.
    val rnd = new scala.util.Random(a.seed)
    val Seq(pa, pb, pc, pd) = rnd.shuffle(for (t <- 0 until g.nt; h <- 0 until g.nh) yield (t, h)).take(4)
    val planes = Seq(pa, pb, pc, pa, pd, pb)
    ChunkIO.invalidatePath(ZarrStore.open(path("v2_blosc")).path)
    def decodes(view: String): Long = {
      val before = ChunkIO.decodeCount.get()
      planes.foreach { case (t, h) =>
        tr.span("probe.exec")(spark.sql(s"SELECT sum(geopotential), sum(temperature) FROM $view " +
          s"WHERE time = ${g.times(t)} AND hybrid = ${g.hybrids(h)}").collect())
      }
      ChunkIO.decodeCount.get() - before
    }
    val lookups = decodes("v2_blosc")
    val misses = decodes("v2_blosc_cached")
    val hitRatio = 1.0 - misses.toDouble / lookups
    if (!(hitRatio > 0 && hitRatio < 1))
      throw new IllegalStateException(s"chunk cache probe saw hit ratio $hitRatio " +
        s"($misses misses of $lookups lookups); it must see both hits and misses")
    out.put("ChunkIO.cache_hit_ratio", hitRatio, "ratio")

    // column-vector fill on one thread over the planned partitions
    Seq("one_var" -> "SELECT temperature FROM v2_raw", "all_vars" -> "SELECT * FROM v2_raw",
      "coords_only" -> "SELECT time, hybrid, latitude, longitude FROM v2_raw").foreach { case (k, q) =>
      val parts = scans(spark.sql(q).queryExecution.executedPlan).flatMap(zarrPartitions)
      val from = tr.spans.length
      var rows = 0L
      parts.foreach { p =>
        tr.span("ZarrColumnarReader.fill") {
          val r = new ZarrColumnarReader(p)
          try while (r.next()) rows += r.get().numRows() finally r.close()
        }
      }
      out.put(s"ZarrColumnarReader.fill_Mrows_s.$k", rows / 1e6 / selfS(tr, "ZarrColumnarReader.fill", from), "Mrows/s")
    }

    // reference ceilings (not regression-gated)
    val dst = new Array[Float](g.planeCells)
    val copyFrom = tr.spans.length
    (0 until 5).foreach(_ => g.planes.foreach(_.foreach { p =>
      tr.span("ceiling.arraycopy")(System.arraycopy(p, 0, dst, 0, p.length))
    }))
    out.put("ceiling.arraycopy_MBps", 5 * g.decodedBytes / MB / selfS(tr, "ceiling.arraycopy", copyFrom), "MB/s")
    val pq = a.work.resolve("probe_parquet").toString
    spark.table("v2_raw").write.parquet(pq)
    spark.read.parquet(pq).createOrReplaceTempView("grid_parquet")
    val fullSql = (v: String) => s"SELECT sum(temperature) FROM $v"
    val pqS = timedMs(tr, "ceiling.parquet_full_scan", 3)(spark.sql(fullSql("grid_parquet")).collect()) / 1e3
    val zS = timedMs(tr, "ceiling.zarr_full_scan", 3)(spark.sql(fullSql("v2_raw")).collect()) / 1e3
    out.put("ceiling.parquet_full_scan_s", pqS, "s")
    out.put("ceiling.zarr_over_parquet", zS / pqS, "ratio")

    // store writes of the same compressed payloads
    val wdir = a.work.resolve("probe_store_write")
    Files.createDirectories(wdir)
    val wstore = ZarrStore.open(wdir.toString)
    val wFrom = tr.spans.length
    payloads("v2_blosc").zipWithIndex.foreach { case ((_, b), i) =>
      tr.span("ZarrStore.writeBytes")(wstore.writeBytes(s"x/$i", b))
    }
    out.put("ZarrStore.write_MBps",
      payloads("v2_blosc").map(_._2.length.toLong).sum / MB / selfS(tr, "ZarrStore.writeBytes", wFrom), "MB/s")
  }

  // ----------------------------------------------------------------- write

  private def writeLayers(spark: SparkSession, a: Main.Args, tr: Tracer, workload: Workload, out: Out): Unit = {
    val ingest = workload match {
      case i: Era5Ingest => i
      case _ =>
        val i = new Era5Ingest
        i.setup(spark, a.work.resolve("probe_ingest"), a.seed)
        i
    }
    val userBytes = ingest.slabRows * 2 * 4.0
    ingest.configs.foreach { case (cfg, opts, _) =>
      val p = a.work.resolve(s"probe_write_$cfg")
      val ms = timedMs(tr, s"ZarrWriter.write.$cfg", 1) {
        ingest.slabs(0).write.format("zarr").option("coords", ingest.coords.mkString(","))
          .options(opts).save(p.toString)
      }
      out.put(s"ZarrWriter.write_ms.$cfg", ms, "ms")
      out.put(s"ZarrWriter.bytes_per_user_byte.$cfg", dirBytes(p) / userBytes, "ratio")
    }
    out.put("ZarrWriter.append_ms", timedMs(tr, "ZarrWriter.append", 1)(
      ZarrWriter.append(ingest.slabs(1), a.work.resolve("probe_write_v2_none").toString)), "ms")
  }

  // ---------------------------------------------------------------- corpus

  private def corpusLayers(spark: SparkSession, a: Main.Args, tr: Tracer, rec: Recorder,
      workload: Workload, out: Out): Unit = {
    val (mix, log) = workload match {
      case m: CorpusMix => (m, rec.log.toSeq)
      case _ =>
        val m = new CorpusMix
        m.setup(spark, a.work.resolve("probe_corpus"), a.seed)
        val r = new Recorder
        m.round(spark, r, tr, new scala.util.Random(a.seed))
        (m, r.log.toSeq)
    }
    mix.queries.foreach { case (q, cls, _, _) =>
      val t = log.collect { case (_, `q`, s) => s }
      out.put(s"$cls.${q}_s", if (t.isEmpty) 0.0 else Stats.median(t), "s")
    }
  }
}
