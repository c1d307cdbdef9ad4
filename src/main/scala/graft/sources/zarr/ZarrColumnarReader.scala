package graft.sources.zarr

import org.apache.spark.sql.connector.metric.CustomTaskMetric
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

/** The Zarr scan: fills `OnHeapColumnVector`s in 4K-row batches for
  * one partition slice of the filtered grid, and feeds Spark's
  * vectorized pipeline exactly like the parquet reader does (the
  * Spark-native analog of the reference's single Arrow RecordBatch,
  * /root/reference/src/reader/zarr_reader.rs:417-432 — but batched and
  * parallel). It is the only Zarr scan reader: the empty projection
  * (bare counts) gets column-less batches that carry just `numRows`.
  *
  * Batches are filled in RUNS: stretches of rows where only the last
  * dimension moves. A run ends at the end of the last-dimension range,
  * at the batch end, or at any projected variable's chunk edge, so
  * inside a run every variable's cells are contiguous in its decoded
  * chunk and the run is one bulk copy (`putFloats(rowId, len, src,
  * srcIndex)` and kin). The last-dimension coordinate is a bulk copy
  * from the coordinate array; outer coordinates are constant over a
  * run and written as repeated-value runs. Fill-as-null is a typed
  * per-run scan with [[ChunkCodec.isFill]]'s semantics. The vectors
  * and the batch are allocated once and `reset()` per batch.
  */
class ZarrColumnarReader(p: ZarrInputPartition, batchSize: Int = 4096)
    extends PartitionReader[ColumnarBatch] {

  private val store = ZarrStore.open(p.storePath)
  private val nDims = p.ranges.length
  private val last = nDims - 1
  private val fields = p.projection.toArray

  // odometer state: global indices per dimension for the current row
  private val idx = new Array[Int](nDims)
  private var row = p.rowStart
  GridMath.rowToIndices(row, p.ranges, idx)

  // per-var-field chunk state
  private final class VarState(val meta: ZarrArrayMeta) {
    val chunkIdx = new Array[Long](nDims)
    var chunk: AnyRef = _
    var offset = 0
    var bytesRead = 0L
    var chunksDecoded = 0L
    /** Payload size of the in-flight prefetch (pool thread writes,
      * consumer drains on pickup). */
    var prefetchBytes: java.util.concurrent.atomic.AtomicLong = _

    // Row-band LRU: the odometer revisits inner-dimension chunks once
    // per grid row; holding one band avoids chunk-extent× re-decodes
    // (see ChunkIO.bandCacheCap).
    private val bandCap = ChunkIO.bandCacheCap(meta, p.ranges)
    private val band =
      new java.util.LinkedHashMap[Seq[Long], AnyRef](8, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Seq[Long], AnyRef]): Boolean = size() > bandCap
      }

    // With the band cache in place, cache MISSES occur in exact
    // C-order over the chunk grid restricted to this partition's
    // ranges — so a one-ahead prediction is precise, and prefetching
    // the predicted chunk overlaps its store latency (one object-store
    // round trip per chunk on remote backends) with the current
    // chunk's decode/emit.
    private val chunkLo = Array.tabulate(nDims)(d => p.ranges(d)._1 / meta.chunks(d))
    private val chunkHi = Array.tabulate(nDims)(d =>
      math.max(p.ranges(d)._1, p.ranges(d)._2 - 1) / meta.chunks(d))
    private var pending: (Seq[Long], java.util.concurrent.Future[AnyRef]) = null

    private def nextChunkKey(cur: Seq[Long]): Seq[Long] = {
      val n = cur.toArray
      var d = nDims - 1
      while (d >= 0) {
        if (n(d) < chunkHi(d)) { n(d) += 1; return n.toSeq }
        n(d) = chunkLo(d)
        d -= 1
      }
      null
    }

    private def fetch(key: Seq[Long]): AnyRef = {
      if (pending != null && pending._1 == key) {
        val f = pending._2
        pending = null
        val a = try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        if (prefetchBytes != null) { bytesRead += prefetchBytes.get(); prefetchBytes = null }
        a
      } else {
        // mispredicted prefetch: its bytes were still fetched — drain
        // them into the metric before reading the chunk actually needed
        drainPending()
        ChunkIO.readChunkCached(store, meta, key, p.chunkCacheEntries,
          bytesRead += _)
      }
    }

    /** Settle an in-flight prefetch whose result will never be picked
      * up by [[fetch]] (misprediction, or the partition ended
      * mid-prefetch): wait for it — the fetched chunk lands in the
      * shared cache either way, so the work is not lost — and account
      * its bytes, keeping zarrBytesRead equal to what was actually
      * read from the store. */
    def drainPending(): Unit = if (pending != null) {
      val f = pending._2
      pending = null
      try f.get() catch { case _: Throwable => () }
      if (prefetchBytes != null) { bytesRead += prefetchBytes.get(); prefetchBytes = null }
    }

    /** Point `chunk`/`offset` at the cell under the odometer, fetching
      * the chunk when the odometer crossed into a new one; returns the
      * exclusive last-dimension index where that chunk ends. */
    def locate(): Int = {
      var changed = chunk == null
      var d = 0
      while (d < nDims) {
        val c = (idx(d) / meta.chunks(d)).toLong
        if (c != chunkIdx(d)) { chunkIdx(d) = c; changed = true }
        d += 1
      }
      if (changed) {
        val key = chunkIdx.toSeq
        val hit = band.get(key)
        if (hit != null) chunk = hit
        else {
          // bytesRead reported from inside the read (no extra sizeOf
          // round trip per chunk on remote stores)
          chunk = fetch(key)
          chunksDecoded += 1
          band.put(key, chunk)
          if (p.prefetch && pending == null) {
            val nk = nextChunkKey(key)
            if (nk != null && band.get(nk) == null) {
              // the pool thread must not touch this task's bytesRead
              // var; it accumulates into an atomic the consumer drains
              val sz = new java.util.concurrent.atomic.AtomicLong()
              prefetchBytes = sz
              pending = (nk, ChunkIO.prefetchPool.submit(
                new java.util.concurrent.Callable[AnyRef] {
                  override def call(): AnyRef =
                    ChunkIO.readChunkCached(store, meta, nk, p.chunkCacheEntries,
                      sz.addAndGet(_))
                }))
            }
          }
        }
      }
      var off = 0
      d = 0
      while (d < nDims) { off = off * meta.chunks(d) + idx(d) % meta.chunks(d); d += 1 }
      offset = off
      math.min((chunkIdx(last) + 1) * meta.chunks(last), Int.MaxValue.toLong).toInt
    }
  }

  private val varStates: Array[VarState] = fields.collect { case VarField(m) => new VarState(m) }
  private val vectors: Array[OnHeapColumnVector] = {
    val capacity = math.max(1L, math.min(batchSize.toLong, p.rowEnd - p.rowStart)).toInt
    fields.map {
      case CoordField(d) => new OnHeapColumnVector(capacity, p.coords(d).meta.dtype.sparkType)
      case VarField(m) => new OnHeapColumnVector(capacity, m.dtype.sparkType)
    }
  }
  private val batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))

  override def next(): Boolean = {
    if (row >= p.rowEnd) return false
    val n = math.min(batchSize.toLong, p.rowEnd - row).toInt
    vectors.foreach(_.reset())
    var r = 0
    while (r < n) {
      val i0 = idx(last)
      var len = math.min(n - r, p.ranges(last)._2 - i0)
      var vs = 0
      while (vs < varStates.length) { len = math.min(len, varStates(vs).locate() - i0); vs += 1 }
      vs = 0
      var f = 0
      while (f < fields.length) {
        fields(f) match {
          case CoordField(d) =>
            if (d == last) copyRun(vectors(f), r, len, p.coords(d).raw, i0)
            else repeatRun(vectors(f), r, len, p.coords(d).raw, idx(d))
          case VarField(m) =>
            val st = varStates(vs)
            copyRun(vectors(f), r, len, st.chunk, st.offset)
            if (p.fillAsNull) nullFillRun(vectors(f), r, len, st.chunk, st.offset, m.fillValue)
            vs += 1
        }
        f += 1
      }
      r += len
      advance(len)
    }
    row += n
    batch.setNumRows(n)
    true
  }

  /** Move the odometer `len` rows on; a run never crosses the end of
    * the last dimension, so at most one carry ripples outward. */
  private def advance(len: Int): Unit = {
    idx(last) += len
    if (idx(last) >= p.ranges(last)._2) {
      idx(last) = p.ranges(last)._1
      var d = last - 1
      var carry = true
      while (d >= 0 && carry) {
        idx(d) += 1
        if (idx(d) >= p.ranges(d)._2) idx(d) = p.ranges(d)._1 else carry = false
        d -= 1
      }
    }
  }

  /** Rows `[r, r+len)` ← `src[from, from+len)`. */
  private def copyRun(v: OnHeapColumnVector, r: Int, len: Int, src: AnyRef, from: Int): Unit =
    src match {
      case a: Array[Float] => v.putFloats(r, len, a, from)
      case a: Array[Double] => v.putDoubles(r, len, a, from)
      case a: Array[Long] => v.putLongs(r, len, a, from)
      case a: Array[Int] => v.putInts(r, len, a, from)
      case a: Array[Short] => v.putShorts(r, len, a, from)
      case a: Array[Byte] => v.putBytes(r, len, a, from)
      case a: Array[Boolean] => var k = 0; while (k < len) { v.putBoolean(r + k, a(from + k)); k += 1 }
      case a: Array[String] => var k = 0; while (k < len) { v.putByteArray(r + k, utf8(a(from + k))); k += 1 }
      case other => throw new IllegalStateException(s"Unsupported columnar array ${other.getClass}")
    }

  /** Rows `[r, r+len)` ← `src(i)` repeated. */
  private def repeatRun(v: OnHeapColumnVector, r: Int, len: Int, src: AnyRef, i: Int): Unit =
    src match {
      case a: Array[Float] => v.putFloats(r, len, a(i))
      case a: Array[Double] => v.putDoubles(r, len, a(i))
      case a: Array[Long] => v.putLongs(r, len, a(i))
      case a: Array[Int] => v.putInts(r, len, a(i))
      case a: Array[Short] => v.putShorts(r, len, a(i))
      case a: Array[Byte] => v.putBytes(r, len, a(i))
      case a: Array[Boolean] => v.putBooleans(r, len, a(i))
      case a: Array[String] =>
        val b = utf8(a(i)); var k = 0; while (k < len) { v.putByteArray(r + k, b); k += 1 }
      case other => throw new IllegalStateException(s"Unsupported columnar array ${other.getClass}")
    }

  /** Null out the run's fill-valued cells — [[ChunkCodec.isFill]]
    * without boxing: integral cells compare in the integer domain
    * (longs past 2^53 never collide with the fill value), a NaN fill
    * matches NaN cells, floats compare via `toDouble`. */
  private def nullFillRun(v: OnHeapColumnVector, r: Int, len: Int, src: AnyRef, from: Int,
      fv: Double): Unit = {
    val fvNaN = java.lang.Double.isNaN(fv)
    var k = 0
    src match {
      case a: Array[Float] =>
        while (k < len) {
          val x = a(from + k)
          if (x.toDouble == fv || (fvNaN && java.lang.Float.isNaN(x))) v.putNull(r + k)
          k += 1
        }
      case a: Array[Double] =>
        while (k < len) {
          val x = a(from + k)
          if (x == fv || (fvNaN && java.lang.Double.isNaN(x))) v.putNull(r + k)
          k += 1
        }
      case a: Array[Long] =>
        val fl = fv.toLong
        if (fv == fl.toDouble)
          while (k < len) { if (a(from + k) == fl) v.putNull(r + k); k += 1 }
      case a: Array[Int] => while (k < len) { if (a(from + k).toDouble == fv) v.putNull(r + k); k += 1 }
      case a: Array[Short] => while (k < len) { if (a(from + k).toDouble == fv) v.putNull(r + k); k += 1 }
      case a: Array[Byte] => while (k < len) { if (a(from + k).toDouble == fv) v.putNull(r + k); k += 1 }
      case a: Array[Boolean] =>
        while (k < len) { if ((if (a(from + k)) 1.0 else 0.0) == fv) v.putNull(r + k); k += 1 }
      case _ => // strings never match a numeric fill value
    }
  }

  private def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    // a partition can end (or be limit-cut) with a prefetch in flight;
    // its bytes must land in the metric before the task reports it
    varStates.foreach(_.drainPending())
    batch.close()
  }

  override def currentMetricsValues(): Array[CustomTaskMetric] = {
    def m(n: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
      override def name(): String = n
      override def value(): Long = v
    }
    val bytes = varStates.map(_.bytesRead).sum
    val chunks = varStates.map(_.chunksDecoded).sum
    val base = Array(m("zarrBytesRead", bytes), m("zarrChunksDecoded", chunks))
    // union-member partitions double-report under the member-ordinal
    // metric so the union scan can attribute IO per store
    if (p.memberIdx < 0) base
    else base ++ Array(m(s"zarrBytesRead.m${p.memberIdx}", bytes),
      m(s"zarrChunksDecoded.m${p.memberIdx}", chunks))
  }
}
