package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, StandardOpenOption}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.zarr.{ChunkCodec, ChunkIO, ZarrDType, ZarrMeta, ZarrStore}

/** `ChunkCodec.decodeTypedBuf`'s bulk typed views: both byte orders
  * for every same-width numeric dtype, over heap and memory-mapped
  * buffers, and a short payload still failing through
  * `ChunkIO.readChunk` as an `IOException` that names the chunk. */
class ChunkDecodeSpec extends AnyFunSuite {

  private val n = 37
  private val widths = Seq(('i', 2), ('i', 4), ('i', 8), ('u', 8), ('f', 4), ('f', 8))

  /** Payload of `n` values of dtype (kind, size) in `order`, and the
    * decoded array it must produce. */
  private def payload(kind: Char, size: Int, order: ByteOrder): (Array[Byte], AnyRef) = {
    val buf = ByteBuffer.allocate(n * size).order(order)
    val want: AnyRef = (kind, size) match {
      case ('i', 2) => val a = Array.tabulate(n)(i => (i * 977 - 18000).toShort); a.foreach(buf.putShort); a
      case ('i', 4) => val a = Array.tabulate(n)(i => i * 58000001 - 1000000000); a.foreach(buf.putInt); a
      case ('i', 8) | ('u', 8) =>
        val a = Array.tabulate(n)(i => i * 0x0123456789abcdL - (1L << 62)); a.foreach(buf.putLong); a
      case ('f', 4) => val a = Array.tabulate(n)(i => i * -1.375f + 0.1f); a.foreach(buf.putFloat); a
      case ('f', 8) => val a = Array.tabulate(n)(i => i * 3.0e-7 - 1e300); a.foreach(buf.putDouble); a
    }
    (buf.array(), want)
  }

  private def sameArray(a: AnyRef, b: AnyRef): Boolean = (a, b) match {
    case (x: Array[Short], y: Array[Short]) => x.sameElements(y)
    case (x: Array[Int], y: Array[Int]) => x.sameElements(y)
    case (x: Array[Long], y: Array[Long]) => x.sameElements(y)
    case (x: Array[Float], y: Array[Float]) => java.util.Arrays.equals(x, y)
    case (x: Array[Double], y: Array[Double]) => java.util.Arrays.equals(x, y)
    case _ => false
  }

  private def mapped(bytes: Array[Byte]): ByteBuffer = {
    val f = Files.createTempFile("decode", ".bin")
    f.toFile.deleteOnExit()
    Files.write(f, bytes)
    val ch = FileChannel.open(f, StandardOpenOption.READ)
    try ch.map(FileChannel.MapMode.READ_ONLY, 0, ch.size()) finally ch.close()
  }

  for ((kind, size) <- widths; le <- Seq(true, false)) {
    test(s"$kind$size ${if (le) "little" else "big"}-endian decodes over heap and mapped buffers") {
      val (bytes, want) = payload(kind, size, if (le) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
      val dt = ZarrDType(kind, size, littleEndian = le)
      assert(sameArray(ChunkCodec.decodeTypedBuf(ByteBuffer.wrap(bytes), dt, n), want))
      assert(sameArray(ChunkCodec.decodeTypedBuf(mapped(bytes), dt, n), want))
      // a view over a buffer whose position is not 0 starts at the position
      val shifted = ByteBuffer.wrap(Array.fill[Byte](3)(9) ++ bytes)
      shifted.position(3)
      assert(sameArray(ChunkCodec.decodeTypedBuf(shifted, dt, n), want))
      // and the opposite byte order does not decode to the same values
      val swapped = ChunkCodec.decodeTypedBuf(ByteBuffer.wrap(bytes), dt.copy(littleEndian = !le), n)
      assert(!sameArray(swapped, want))
    }
  }

  test("a short payload underflows in every bulk view") {
    for ((kind, size) <- widths) {
      val (bytes, _) = payload(kind, size, ByteOrder.LITTLE_ENDIAN)
      val dt = ZarrDType(kind, size, littleEndian = true)
      val cut = java.util.Arrays.copyOf(bytes, bytes.length - 1)
      intercept[java.nio.BufferUnderflowException](ChunkCodec.decodeTypedBuf(ByteBuffer.wrap(cut), dt, n))
      intercept[java.nio.BufferUnderflowException](ChunkCodec.decodeTypedBuf(mapped(cut), dt, n))
    }
  }

  /** A one-variable v2 store whose chunk `0` holds `keep` of the
    * `chunkLen` float32 cells it declares. */
  private def truncatedStore(chunkLen: Int, keep: Int): Path = {
    val root = Files.createTempDirectory("zarr_trunc")
    Files.write(root.resolve(".zgroup"), """{"zarr_format":2}""".getBytes)
    Files.createDirectories(root.resolve("v"))
    Files.write(root.resolve("v").resolve(".zarray"),
      s"""{"zarr_format":2,"shape":[$chunkLen],"chunks":[$chunkLen],"dtype":"<f4",
         "fill_value":0,"order":"C","filters":null,"dimension_separator":".",
         "compressor":null}""".getBytes)
    Files.write(root.resolve("v").resolve("0"), new Array[Byte](keep * 4 + 2))
    root
  }

  // 64 cells stay under the store's 1 MiB read-to-heap threshold;
  // 300k cells are memory-mapped
  for ((chunkLen, keep) <- Seq((64, 40), (300000, 290000))) {
    test(s"a truncated $chunkLen-cell chunk fails through readChunk naming the chunk") {
      val root = truncatedStore(chunkLen, keep)
      val store = ZarrStore.open(root.toString)
      val meta = ZarrMeta.discoverArrays(store).find(_.name == "v").get
      val e = intercept[java.io.IOException](ChunkIO.readChunk(store, meta, Seq(0L)))
      assert(e.getMessage.contains("'v/0'"), e.getMessage)
      assert(e.getMessage.contains("BufferUnderflowException"), e.getMessage)
    }
  }
}
