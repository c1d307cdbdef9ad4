package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}

/** A seeded ERA5-shaped grid: time × hybrid × latitude × longitude with
  * two float32 variables. Values are whole numbers well inside float32's
  * exact range, so every sum the workloads check is exact in any
  * summation order, and the expected answers come from plain Scala
  * arithmetic over the generated planes. */
final class Era5Grid(val seed: Long, val nt: Int = 3, val nh: Int = 2,
    val nlat: Int = 721, val nlon: Int = 1440) {

  val vars: Seq[String] = Seq("geopotential", "temperature")
  val times: Array[Long] = Array.tabulate(nt)(t => 1095744L + t)
  val hybrids: Array[Double] = Array.tabulate(nh)(h => 135.0 + h)
  val lats: Array[Double] = Array.tabulate(nlat)(i => 90.0 - i * 0.25)
  val lons: Array[Double] = Array.tabulate(nlon)(j => j * 0.25)
  val planeCells: Int = nlat * nlon
  val totalRows: Long = nt.toLong * nh * planeCells

  /** planes(v)(t * nh + h) holds variable v's (lat, lon) plane. */
  val planes: Array[Array[Array[Float]]] = Array.tabulate(vars.length, nt * nh) { (v, p) =>
    val a = new Array[Float](planeCells)
    val t = p / nh
    var i = 0
    while (i < nlat) {
      var j = 0
      while (j < nlon) {
        a(i * nlon + j) = Era5Grid.value(seed, v, t, p % nh, i, j, p.toLong * planeCells + i * nlon + j)
        j += 1
      }
      i += 1
    }
    a
  }

  /** rowSums(v)(plane)(lat index): exact sums of one latitude row. */
  val rowSums: Array[Array[Array[Long]]] = planes.map(_.map { a =>
    Array.tabulate(nlat) { i =>
      var s = 0L
      var j = 0
      while (j < nlon) { s += a(i * nlon + j).toLong; j += 1 }
      s
    }
  })

  def planeSum(v: Int, t: Int, h: Int): Long = rowSums(v)(t * nh + h).sum
  def total(v: Int): Long = rowSums(v).map(_.sum).sum

  /** Sum of variable v over latitude indices [i0, i1], all other dims. */
  def latBandSum(v: Int, i0: Int, i1: Int): Long =
    rowSums(v).map(r => (i0 to i1).map(r(_)).sum).sum

  def at(v: Int, t: Int, h: Int, i: Int, j: Int): Float = planes(v)(t * nh + h)(i * nlon + j)

  /** Decoded payload of the three stores, in bytes. */
  def decodedBytes: Long = totalRows * 4 * vars.length

  private def le(n: Int): ByteBuffer = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)

  private def write(root: Path, rel: String, bytes: Array[Byte]): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, bytes)
  }

  private def coordBytes(name: String): (Array[Byte], String, String) = name match {
    case "time" =>
      val b = le(nt * 8); times.foreach(b.putLong); (b.array(), "<i8", "int64")
    case _ =>
      val vals = name match { case "hybrid" => hybrids; case "latitude" => lats; case _ => lons }
      val b = le(vals.length * 8); vals.foreach(b.putDouble); (b.array(), "<f8", "float64")
  }

  private val coordNames = Seq("time", "hybrid", "latitude", "longitude")
  private def shape: Seq[Int] = Seq(nt, nh, nlat, nlon)

  /** Raw little-endian bytes of the (lat0 until lat1, lon0 until lon1)
    * block of one plane, zero-padded to (rows, cols). */
  private def block(a: Array[Float], lat0: Int, lon0: Int, rows: Int, cols: Int): Array[Byte] = {
    val b = le(rows * cols * 4)
    var r = 0
    while (r < rows) {
      var c = 0
      while (c < cols) {
        val i = lat0 + r; val j = lon0 + c
        b.putFloat(if (i < nlat && j < nlon) a(i * nlon + j) else 0f)
        c += 1
      }
      r += 1
    }
    b.array()
  }

  /** Zarr v2 store with `(1, 1, rows, cols)` chunks and the given v2
    * compressor JSON; `encode` turns a raw chunk into its payload. */
  def writeV2(root: Path, rows: Int, cols: Int, compressorJson: String,
      encode: Array[Byte] => Array[Byte]): Long = {
    var bytes = 0L
    write(root, ".zgroup", """{"zarr_format":2}""".getBytes)
    coordNames.foreach { c =>
      val (data, dt, _) = coordBytes(c)
      val n = data.length / 8
      write(root, s"$c/.zarray", (s"""{"zarr_format":2,"shape":[$n],"chunks":[$n],"dtype":"$dt",""" +
        s""""fill_value":0,"order":"C","filters":null,"dimension_separator":".","compressor":null}""").getBytes)
      write(root, s"$c/0", data)
    }
    vars.indices.foreach { v =>
      write(root, s"${vars(v)}/.zarray", (s"""{"zarr_format":2,"shape":[${shape.mkString(",")}],""" +
        s""""chunks":[1,1,$rows,$cols],"dtype":"<f4","fill_value":0,"order":"C","filters":null,""" +
        s""""dimension_separator":".","compressor":$compressorJson}""").getBytes)
      for (t <- 0 until nt; h <- 0 until nh; bi <- 0 until (nlat + rows - 1) / rows;
           bj <- 0 until (nlon + cols - 1) / cols) {
        val payload = encode(block(planes(v)(t * nh + h), bi * rows, bj * cols, rows, cols))
        bytes += payload.length
        write(root, s"${vars(v)}/$t.$h.$bi.$bj", payload)
      }
    }
    bytes
  }

  /** Zarr v3 store: one shard per (time, hybrid) plane holding
    * `innerCols`-wide zstd inner chunks, crc32c index at the end. */
  def writeV3ShardedZstd(root: Path, innerCols: Int): Long = {
    require(nlon % innerCols == 0, "inner chunks must tile the longitude axis")
    var bytes = 0L
    write(root, "zarr.json", """{"zarr_format":3,"node_type":"group"}""".getBytes)
    val bytesCodec = """{"name":"bytes","configuration":{"endian":"little"}}"""
    def arrayJson(shp: Seq[Int], chunks: Seq[Int], dtype: String, codecs: String, dims: Seq[String]) =
      (s"""{"zarr_format":3,"node_type":"array","shape":[${shp.mkString(",")}],"data_type":"$dtype",""" +
        s""""chunk_grid":{"name":"regular","configuration":{"chunk_shape":[${chunks.mkString(",")}]}},""" +
        s""""chunk_key_encoding":{"name":"default","configuration":{"separator":"/"}},""" +
        s""""fill_value":0,"codecs":$codecs,"dimension_names":[${dims.map("\"" + _ + "\"").mkString(",")}]}""")
        .getBytes
    coordNames.foreach { c =>
      val (data, _, v3type) = coordBytes(c)
      val n = data.length / 8
      write(root, s"$c/zarr.json", arrayJson(Seq(n), Seq(n), v3type, s"[$bytesCodec]", Seq(c)))
      write(root, s"$c/c/0", data)
    }
    val sharding = s"""[{"name":"sharding_indexed","configuration":{"chunk_shape":[1,1,$nlat,$innerCols],""" +
      s""""codecs":[$bytesCodec,{"name":"zstd","configuration":{"level":3}}],""" +
      s""""index_codecs":[$bytesCodec,{"name":"crc32c"}],"index_location":"end"}}]"""
    val nInner = nlon / innerCols
    vars.indices.foreach { v =>
      write(root, s"${vars(v)}/zarr.json",
        arrayJson(shape, Seq(1, 1, nlat, nlon), "float32", sharding, coordNames))
      for (t <- 0 until nt; h <- 0 until nh) {
        val body = new java.io.ByteArrayOutputStream()
        val index = le(nInner * 16)
        (0 until nInner).foreach { k =>
          val enc = com.github.luben.zstd.Zstd.compress(
            block(planes(v)(t * nh + h), 0, k * innerCols, nlat, innerCols), 3)
          index.putLong(body.size().toLong); index.putLong(enc.length.toLong)
          body.write(enc)
        }
        val crc = new java.util.zip.CRC32C
        crc.update(index.array())
        body.write(index.array())
        body.write(le(4).putInt(crc.getValue.toInt).array())
        val shard = body.toByteArray
        bytes += shard.length
        write(root, s"${vars(v)}/c/$t/$h/0/0", shard)
      }
    }
    bytes
  }
}

object Era5Grid {

  /** SplitMix64 finaliser: a stateless, seedable 64-bit mix. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Temperature-like and geopotential-like whole numbers: a smooth
    * latitude/longitude field plus seeded noise. */
  def value(seed: Long, v: Int, t: Int, h: Int, i: Int, j: Int, flat: Long): Float = {
    val r = mix(seed * 0x632BE59BD9B4E019L + v * 0x1000000000L + flat)
    if (v == 1) (220 + i * 80 / 721 + t + (r & 15)).toFloat
    else (50000 + 10 * ((i + 2 * j) % 500) + 400 * h + ((r >>> 8) & 31)).toFloat
  }

  /** The three copies the scan workload reads. */
  val copies: Seq[String] = Seq("v2_raw", "v2_blosc", "v3_zstd_sharded")

  /** Write every copy under `dir`; returns stored bytes per copy. */
  def writeCopies(g: Era5Grid, dir: Path): Map[String, Long] = Map(
    "v2_raw" -> g.writeV2(dir.resolve("v2_raw"), g.nlat, g.nlon, "null", identity),
    "v2_blosc" -> g.writeV2(dir.resolve("v2_blosc"), 181, 360,
      """{"id":"blosc","cname":"lz4","clevel":5,"shuffle":1}""",
      raw => graft.sources.zarr.ChunkCodec.bloscCompress(raw, 4)),
    "v3_zstd_sharded" -> g.writeV3ShardedZstd(dir.resolve("v3_zstd_sharded"), 360))
}
