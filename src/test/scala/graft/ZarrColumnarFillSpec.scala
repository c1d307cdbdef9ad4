package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnVector
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.zarr._

/** Run-fill parity: the columnar reader's bulk run copies must equal a
  * per-cell oracle (`GridMath.rowToIndices` + `ChunkCodec.elementAt`,
  * nulls by `ChunkCodec.isFill`) cell for cell, over every dtype the
  * Spark mapping covers, with the variables chunked differently so
  * chunk edges fall mid-batch and mid-row, partitions that start
  * mid-row or cover a sub-box of the grid, batch sizes 1/2/7/4096 and
  * fill-as-null on and off. Per batch the null count must match too,
  * which catches nulls leaking through a reused vector's `reset()`. */
class ZarrColumnarFillSpec extends AnyFunSuite {

  private val nt = 3; private val ny = 4; private val nx = 7

  /** A data variable of shape (nt, ny, nx): `cell` gives the stored
    * value of the non-fill cells, `fillAt` the cells that hold `fill`;
    * chunk indices in `absent` are not written (read as fill). */
  private final case class Var(name: String, dtype: String, chunks: Seq[Int], fillJson: String,
      fill: Any, cell: (Int, Int, Int) => Any, absent: Set[Seq[Int]] = Set.empty)

  // cells equal to the fill value: only in the t == 0 plane, so a batch
  // with nulls is followed by batches without them
  private def fillAt(t: Int, y: Int, x: Int): Boolean = t == 0 && (y * nx + x) % 4 == 0
  private def flat(t: Int, y: Int, x: Int): Int = (t * ny + y) * nx + x
  private val two53 = 1L << 53

  private val vars = Seq(
    Var("a_i1", "|i1", Seq(2, 3, 3), "0", 0.toByte, (t, y, x) => (flat(t, y, x) + 1).toByte),
    Var("b_i2", "<i2", Seq(1, 4, 7), "-1", -1.toShort, (t, y, x) => (flat(t, y, x) * 300).toShort),
    Var("c_i4", ">i4", Seq(3, 1, 2), "7", 7, (t, y, x) => flat(t, y, x) * 100000 + 8,
      absent = Set(Seq(0, 3, 3))),
    // longs one past 2^53 equal the 2^53 fill in the double domain;
    // only the integer-domain check keeps them
    Var("d_i8", "<i8", Seq(2, 2, 4), "9007199254740992", two53, (t, y, x) => two53 + 1 + flat(t, y, x)),
    Var("e_u1", "|u1", Seq(2, 3, 3), "255", 255.toByte, (t, y, x) => (flat(t, y, x) + 1).toByte),
    Var("f_u2", "<u2", Seq(1, 2, 5), "65535", 65535.toShort, (t, y, x) => (flat(t, y, x) + 40000).toShort),
    Var("g_u4", ">u4", Seq(2, 4, 3), "4294967295", -1, (t, y, x) => flat(t, y, x) - 100),
    Var("h_u8", "<u8", Seq(3, 3, 6), "0", 0L, (t, y, x) => flat(t, y, x) * 1000000007L + 1),
    Var("i_f2", "<f2", Seq(2, 3, 3), "\"NaN\"", 0x7e00.toShort,
      (t, y, x) => (0x3c00 + flat(t, y, x)).toShort),
    Var("j_f4", "<f4", Seq(1, 4, 4), "\"NaN\"", Float.NaN, (t, y, x) => flat(t, y, x) * 0.5f,
      absent = Set(Seq(2, 0, 1))),
    Var("k_f4be", ">f4", Seq(2, 1, 7), "-9999.0", -9999f, (t, y, x) => flat(t, y, x) - 0.25f),
    Var("l_f8", "<f8", Seq(3, 2, 3), "\"NaN\"", Double.NaN, (t, y, x) => flat(t, y, x) * 1.5),
    Var("m_f8be", ">f8", Seq(1, 3, 5), "1e20", 1e20, (t, y, x) => -flat(t, y, x).toDouble),
    Var("n_b1", "|b1", Seq(2, 2, 2), "0", false, (_, _, _) => true),
    Var("o_s3", "|S3", Seq(2, 3, 4), "0", "", (t, y, x) => s"s${flat(t, y, x)}"),
    Var("p_m8", "<M8[s]", Seq(1, 4, 3), "0", 0L, (t, y, x) => 1000L + flat(t, y, x)))

  private def order(dtype: String) =
    if (dtype.startsWith(">")) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
  private def width(dtype: String): Int =
    if (dtype.contains("M8")) 8 else dtype.drop(2).takeWhile(_.isDigit).toInt

  private def put(buf: ByteBuffer, v: Any, w: Int): Unit = v match {
    case b: Byte => buf.put(b)
    case s: Short => buf.putShort(s)
    case i: Int => buf.putInt(i)
    case l: Long => buf.putLong(l)
    case f: Float => buf.putFloat(f)
    case d: Double => buf.putDouble(d)
    case b: Boolean => buf.put(if (b) 1.toByte else 0.toByte)
    case s: String => buf.put(java.util.Arrays.copyOf(s.getBytes("US-ASCII"), w))
  }

  private lazy val store: String = {
    val root = Files.createTempDirectory("zarr_colfill")
    def writeJson(rel: String, s: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, s.getBytes)
    }
    def zarray(shape: Seq[Int], chunks: Seq[Int], dtype: String, fill: String) =
      s"""{"zarr_format":2,"shape":[${shape.mkString(",")}],
          "chunks":[${chunks.mkString(",")}],"dtype":"$dtype","fill_value":$fill,
          "order":"C","filters":null,"dimension_separator":".","compressor":null}"""
    def write1d(name: String, dtype: String, vals: Seq[Any]): Unit = {
      writeJson(s"$name/.zarray", zarray(Seq(vals.length), Seq(vals.length), dtype, "0"))
      val buf = ByteBuffer.allocate(vals.length * width(dtype)).order(order(dtype))
      vals.foreach(put(buf, _, width(dtype)))
      Files.write(root.resolve(name).resolve("0"), buf.array())
    }
    writeJson(".zgroup", """{"zarr_format":2}""")
    // coordinates: big-endian int (repeated runs), fixed-width strings
    // (repeated runs), float64 as the last dimension (bulk copies)
    write1d("t", ">i4", Seq(10, 20, 30))
    write1d("y", "|S4", Seq("ya", "ybb", "yccc", "y"))
    write1d("x", "<f8", (0 until nx).map(_ * 0.25))
    vars.foreach { v =>
      writeJson(s"${v.name}/.zarray", zarray(Seq(nt, ny, nx), v.chunks, v.dtype, v.fillJson))
      val w = width(v.dtype)
      val grid = Seq(nt, ny, nx).zip(v.chunks).map { case (n, c) => (n + c - 1) / c }
      for (c0 <- 0 until grid(0); c1 <- 0 until grid(1); c2 <- 0 until grid(2)
           if !v.absent(Seq(c0, c1, c2))) {
        val buf = ByteBuffer.allocate(v.chunks.product * w).order(order(v.dtype))
        for (i <- 0 until v.chunks(0); j <- 0 until v.chunks(1); k <- 0 until v.chunks(2)) {
          val (t, y, x) = (c0 * v.chunks(0) + i, c1 * v.chunks(1) + j, c2 * v.chunks(2) + k)
          val inside = t < nt && y < ny && x < nx
          put(buf, if (!inside || fillAt(t, y, x)) v.fill else v.cell(t, y, x), w)
        }
        Files.write(root.resolve(v.name).resolve(s"$c0.$c1.$c2"), buf.array())
      }
    }
    root.toString
  }

  private lazy val meta = ZarrMeta.readStore(store)

  /** Per-cell oracle for one row of the partition's row space. */
  private def oracleRow(p: ZarrInputPartition, row: Long): Seq[Any] = {
    val zs = ZarrStore.open(p.storePath)
    val idx = new Array[Int](p.ranges.length)
    GridMath.rowToIndices(row, p.ranges, idx)
    p.projection.map {
      case CoordField(d) => ChunkCodec.elementAt(p.coords(d).raw, idx(d))
      case VarField(m) =>
        val chunk = ChunkIO.readChunk(zs, m, idx.indices.map(d => (idx(d) / m.chunks(d)).toLong))
        val off = idx.indices.foldLeft(0)((o, d) => o * m.chunks(d) + idx(d) % m.chunks(d))
        val v = ChunkCodec.elementAt(chunk, off)
        if (p.fillAsNull && ChunkCodec.isFill(m.fillValue, v)) null else v
    }
  }

  private def cellOf(c: ColumnVector, r: Int): Any =
    if (c.isNullAt(r)) null
    else c.dataType match {
      case ByteType => c.getByte(r)
      case ShortType => c.getShort(r)
      case IntegerType => c.getInt(r)
      case LongType | TimestampType => c.getLong(r)
      case FloatType => c.getFloat(r)
      case DoubleType => c.getDouble(r)
      case BooleanType => c.getBoolean(r)
      case StringType => c.getUTF8String(r).toString
      case other => fail(s"unexpected column type $other")
    }

  // boxed equals: NaN equals NaN, -0.0 differs from 0.0
  private def same(a: Any, b: Any): Boolean =
    if (a == null || b == null) a == null && b == null
    else a.asInstanceOf[AnyRef].equals(b.asInstanceOf[AnyRef])

  private def partition(ranges: Array[(Int, Int)], rowStart: Long, rowEnd: Long,
      projection: Seq[ProjField], fillAsNull: Boolean): ZarrInputPartition =
    ZarrInputPartition(store, rowStart, rowEnd, ranges, meta.coords, projection, fillAsNull)

  /** Scan `p` with the run-fill reader and compare against the oracle;
    * returns the number of (column, batch) pairs where a batch without
    * nulls followed one with nulls. */
  private def checkParity(p: ZarrInputPartition, batchSize: Int): Int = {
    val r = new ZarrColumnarReader(p, batchSize)
    var row = p.rowStart
    var cleared = 0
    val hadNulls = new Array[Boolean](p.projection.length)
    try while (r.next()) {
      val b = r.get()
      assert(b.numCols() == p.projection.length)
      assert(b.numRows() == math.min(batchSize.toLong, p.rowEnd - row))
      val expect = (0 until b.numRows()).map(i => oracleRow(p, row + i))
      p.projection.indices.foreach { f =>
        val col = b.column(f)
        (0 until b.numRows()).foreach { i =>
          val got = cellOf(col, i)
          assert(same(got, expect(i)(f)),
            s"row ${row + i} field ${p.projection(f)} batch $batchSize: got $got, want ${expect(i)(f)}")
        }
        val nulls = expect.count(_(f) == null)
        assert(col.numNulls() == nulls, s"null count of ${p.projection(f)} at row $row")
        if (hadNulls(f) && nulls == 0) cleared += 1
        hadNulls(f) = nulls > 0
      }
      row += b.numRows()
    } finally r.close()
    assert(row == p.rowEnd)
    cleared
  }

  private val fullRanges = Array((0, nt), (0, ny), (0, nx))
  // a sub-box of the grid: coordinate ranges not aligned to any chunking
  private val subRanges = Array((1, 3), (1, 4), (2, 7))
  private def allFields: Seq[ProjField] = {
    val vs = meta.dataVars.map(VarField(_))
    // coordinates interleaved with the variables, out of dimension order
    Seq(CoordField(2)) ++ vs.take(5) ++ Seq(CoordField(0)) ++ vs.drop(5) ++ Seq(CoordField(1))
  }

  test("store covers every dtype the Spark mapping produces") {
    assert(meta.coords.map(_.meta.name) == Seq("t", "y", "x"))
    assert(meta.dataVars.map(_.name) == vars.map(_.name))
    assert(meta.dataVars.map(_.dtype.sparkType).toSet == Set(ByteType, ShortType, IntegerType,
      LongType, FloatType, DoubleType, BooleanType, StringType, TimestampType))
  }

  for (fillAsNull <- Seq(false, true); bs <- Seq(1, 2, 7, 4096)) {
    test(s"run fill equals the per-cell oracle (batchSize $bs, fillAsNull $fillAsNull)") {
      val total = (nt * ny * nx).toLong
      val sub = subRanges.map { case (lo, hi) => (hi - lo).toLong }.product
      val cleared = Seq(
        partition(fullRanges, 0, total, allFields, fillAsNull),
        // starts and ends mid-row (rows of 7 cells)
        partition(fullRanges, 10, 61, allFields, fillAsNull),
        partition(subRanges, 4, sub, allFields, fillAsNull),
        partition(subRanges, 0, sub - 3, Seq(VarField(meta.dataVars(9))), fillAsNull)
      ).map(checkParity(_, bs)).sum
      if (fillAsNull && bs == 7) assert(cleared > 0, "no batch without nulls followed one with nulls")
    }
  }

  test("fill-as-null keeps longs past 2^53 and nulls only the exact fill") {
    val d = meta.dataVars.indexWhere(_.name == "d_i8")
    val p = partition(fullRanges, 0, nt * ny * nx, Seq(VarField(meta.dataVars(d))), fillAsNull = true)
    val r = new ZarrColumnarReader(p)
    try {
      assert(r.next())
      val c = r.get().column(0)
      val nulls = (0 until nt * ny * nx).count(c.isNullAt)
      assert(nulls == (0 until ny).flatMap(y => (0 until nx).map(x => fillAt(0, y, x))).count(identity))
      assert(!c.isNullAt(1) && c.getLong(1) == two53 + 2)
    } finally r.close()
  }

  test("empty projection: column-less batches carry the row counts") {
    for (bs <- Seq(1, 7, 4096); (lo, hi) <- Seq((0L, 84L), (10L, 61L))) {
      val r = new ZarrColumnarReader(partition(fullRanges, lo, hi, Nil, fillAsNull = false), bs)
      var rows = 0L
      try while (r.next()) { assert(r.get().numCols() == 0); rows += r.get().numRows() }
      finally r.close()
      assert(rows == hi - lo)
    }
  }

  test("Spark counts through the column-less path") {
    import TestSession._
    val df = spark.read.format("zarr").load(store)
    assert(df.count() == nt * ny * nx)
    val plan = df.select().queryExecution.executedPlan
    assert(plan.collectFirst { case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
      s.supportsColumnar }.contains(true))
    assert(df.select().rdd.count() == nt * ny * nx)
    assert(df.filter("x > 0.3").count() == nt * ny * (nx - 2))
  }

  test("every partition reads columnar; createReader names that invariant") {
    val f = new ZarrReaderFactory
    val p = partition(fullRanges, 0, 1, Nil, fillAsNull = false)
    assert(f.supportColumnarReads(p))
    val e = intercept[UnsupportedOperationException](f.createReader(p))
    assert(e.getMessage.contains("columnar-only"))
  }
}
