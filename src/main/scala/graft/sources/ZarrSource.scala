package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.{ByteBuffer, ByteOrder}
import scala.jdk.CollectionConverters._
import graft.sources.zarr.ChunkStats

/** Zarr v2 chunked-array source/sink — the reference's NATIVE cube format
  * (xcube stores cubes as Zarr groups: dsio.py:411-533 writes via to_zarr,
  * zarrstore/generic.py:560-660 emits the v2 metadata documents this parser
  * reads). Implements the public Zarr storage spec v2 directly on the JVM:
  * a group directory with `.zgroup`/`.zattrs`, one subdirectory per array
  * holding `.zarray` (shape/chunks/dtype/fill_value/compressor/order) plus
  * `.zattrs` with xarray's `_ARRAY_DIMENSIONS` convention, and row-major
  * chunk files named `i.j.k` (or with the `/` dimension_separator).
  *
  * Scope: C order; raw (`compressor: null`), zlib, blosc, plain zstd and
  * plain lz4 compressors
  * (blosc is zarr-python's DEFAULT — `Blosc(cname='lz4', clevel=5,
  * shuffle=SHUFFLE)` — decoded by [[BloscCodec]] with lz4/lz4hc/zstd/zlib/
  * snappy inner codecs; blosclz and bit-shuffle are rejected with a clear
  * message); the numeric dtypes, both endiannesses.
  *
  * Scale story — the part that makes this the Spark re-expression of the
  * reference's dask model: the CHUNK is the unit of parallelism in both
  * directions. Reads go through the `format("zarr")` scan
  * ([[graft.sources.zarr.ZarrTableProvider]]), whose input partitions are
  * chunks (a 100 TB cube is millions of chunk files decoded independently;
  * coordinate arrays are 1-D driver-sized). [[writeCube]] maps coordinate values to
  * indices by binary search over the driver-held coordinates, shuffles
  * rows once by target chunk id and assembles/compresses/writes each
  * chunk in its task with memory bounded by the chunk size — no driver
  * gather, no global sort.
  */
object ZarrSource {

  /** Chunk compressor, as declared in `.zarray`'s `compressor` document. */
  sealed trait Codec extends Serializable
  case object Raw extends Codec
  /** numcodecs `{"id": "zlib", "level": n}`. */
  final case class Zlib(level: Int = 1) extends Codec
  /** numcodecs `{"id": "blosc", "cname": ..., "clevel": ..., "shuffle": ...}`
    * — shuffle 0 = none, 1 = byte-shuffle (2 = bit-shuffle is rejected at
    * decode time by [[BloscCodec]]).
    */
  final case class Blosc(cname: String = "lz4", clevel: Int = 5,
                         shuffle: Int = 1, blocksize: Int = 0) extends Codec
  /** numcodecs `{"id": "zstd", "level": n}` — a bare zstd frame. */
  final case class ZstdC(level: Int = 1) extends Codec
  /** numcodecs `{"id": "lz4", "acceleration": n}` — a 4-byte little-endian
    * decompressed-size header followed by one LZ4 block.
    */
  final case class Lz4C(acceleration: Int = 1) extends Codec
  /** Zarr v3 `gzip` codec — a real gzip stream (header + CRC32 trailer),
    * unlike [[Zlib]]'s bare zlib wrapping.
    */
  final case class Gzip(level: Int = 5) extends Codec
  /** graft extension codec `{"id": "graft_jp2", "header": <base64>}`: the
    * chunk payload is ONE JPEG-2000 tile-part addressed in the original
    * granule; `header` carries the codestream main header (SOC..first SOT)
    * so each chunk decodes standalone. Emitted by
    * [[KerchunkSource.scanJp2]]; decodes to the full-chunk `>i4` samples.
    */
  final case class Jp2TileC(headerB64: String) extends Codec
  /** Zarr v3 `crc32c` codec: appends a 4-byte little-endian CRC32C of the
    * payload; decode verifies and strips it.
    */
  case object Crc32c extends Codec
  /** Zarr v3 bytes→bytes codec chain in ENCODE order (the members are the
    * codecs above); decode walks it in reverse. `Nil` = uncompressed (the
    * chain was just the `bytes` array→bytes codec). Endianness lives in the
    * array's dtype prefix, parsed from the `bytes` codec's configuration.
    */
  final case class V3Chain(steps: Seq[Codec]) extends Codec
  /** Zarr v3 `sharding_indexed`: the stored object is a SHARD holding a
    * grid of inner chunks (each encoded with `innerSteps`) plus a footer/
    * header index of (offset, nbytes) uint64-LE pairs per inner chunk
    * (2^64−1 = missing). Decoded by [[ZarrV3Source.decodeShard]] — the
    * [[ZarrArray.chunks]] of a sharded array is the SHARD shape, so the
    * shard stays the unit of parallelism.
    */
  final case class Shard(inner: Seq[Int], innerSteps: Seq[Codec],
                         indexCrc: Boolean, indexAtEnd: Boolean) extends Codec

  /** Parsed `.zarray` (+ `.zattrs` dims) for one array. `shuffleElem` > 0
    * means a numcodecs `{"id": "shuffle", "elementsize": N}` filter is in
    * effect (byte-plane transpose applied before the compressor — the same
    * filter HDF5 and blosc use).
    */
  final case class ZarrArray(shape: Seq[Int], chunks: Seq[Int], dtype: String,
                             fillValue: Double, codec: Codec,
                             dims: Seq[String], separator: String,
                             shuffleElem: Int = 0,
                             cfScale: Double = 1.0, cfOffset: Double = 0.0,
                             cfFill: Option[Double] = None,
                             v3DefaultKeys: Boolean = false) {
    def chunkGrid: Seq[Int] = shape.zip(chunks).map { case (s, c) => (s + c - 1) / c }
    def chunkElems: Int = chunks.product
    /** xarray-default CF mask-and-scale is in effect (.zattrs carried
      * scale_factor/add_offset/_FillValue, the to_zarr packed encoding).
      */
    def cfActive: Boolean = cfScale != 1.0 || cfOffset != 0.0 || cfFill.nonEmpty
    /** Raw stored value → physical value (identity when not packed). */
    def cfDecode(x: Double): Double =
      if (cfFill.exists(f => x == f)) Double.NaN else x * cfScale + cfOffset
    /** Physical value → raw stored value — the exact inverse of
      * [[cfDecode]], used when writing back into a packed store so the next
      * read does not scale the cells a second time. NaN maps to the fill
      * sentinel when one is declared (xarray packs missing cells the same
      * way before to_zarr).
      */
    def cfEncode(p: Double): Double =
      if (p.isNaN) cfFill.getOrElse(Double.NaN) else (p - cfOffset) / cfScale
  }

  private val mapper = new ObjectMapper()

  // ------------------------------------------------------------- metadata

  // All byte IO dispatches through [[ByteStore]]: local paths behave as
  // before; URI-scheme'd paths (s3g://...) reach the store's Hadoop
  // FileSystem, so a Zarr group on object storage reads/writes through the
  // same code. Executor-side closures capture a ByteStore VALUE (driver
  // snapshot), never the process-global registry.
  private def readJson(path: String): Option[JsonNode] =
    ByteStore.current.readIfExists(path).map(mapper.readTree)

  /** `(parent, name)` of a store path by string split — java.io.File would
    * mangle the `://` of remote URIs. */
  private[sources] def splitPath(path: String): (Option[String], String) = {
    val trimmed = path.stripSuffix("/")
    val i = trimmed.lastIndexOf('/')
    if (i < 0) (None, trimmed)
    else (Some(trimmed.substring(0, i)), trimmed.substring(i + 1))
  }

  /** Consolidated metadata (`.zmetadata`, zarr_consolidated_format 1 — what
    * the reference's to_zarr writes by default): ONE document holding every
    * metadata key. Reading it replaces the per-array metadata round-trips —
    * on an object store that is one GET instead of 2·N — so [[openArray]]
    * and [[listArrays]] prefer it transparently when present.
    */
  private def consolidated(groupDir: String): Option[JsonNode] =
    readJson(s"$groupDir/.zmetadata").map { n =>
      require(n.path("zarr_consolidated_format").asInt == 1,
        s"$groupDir: unsupported zarr_consolidated_format")
      n.path("metadata")
    }

  /** Parse `<arrayDir>/.zarray` and the `_ARRAY_DIMENSIONS` attr (from the
    * group's consolidated metadata when available).
    */
  def openArray(arrayDir: String): ZarrArray = {
    val (parent, name) = splitPath(arrayDir)
    val fromMeta = parent.flatMap(consolidated).map { meta =>
      (Option(meta.path(s"$name/.zarray")).filterNot(_.isMissingNode),
        Option(meta.path(s"$name/.zattrs")).filterNot(_.isMissingNode))
    }
    val za = fromMeta.map(_._1.getOrElse(throw new IllegalArgumentException(
        s"$arrayDir: not in consolidated metadata")))
      .orElse(readJson(s"$arrayDir/.zarray"))
      .getOrElse(throw new IllegalArgumentException(
        s"$arrayDir: no .zarray (not a Zarr array)"))
    val zattrs = fromMeta.map(_._2).getOrElse(readJson(s"$arrayDir/.zattrs"))
    parseArrayJson(za, zattrs, arrayDir)
  }

  /** Parse an already-loaded `.zarray` document (+ optional `.zattrs` for
    * `_ARRAY_DIMENSIONS`) — shared with [[KerchunkSource]], whose metadata
    * arrives inline in the reference JSON rather than as files.
    */
  private[sources] def parseArrayJson(za: JsonNode, zattrs: Option[JsonNode],
                                      arrayDir: String): ZarrArray = {
    require(za.path("zarr_format").asInt == 2, s"$arrayDir: zarr_format != 2")
    require(za.path("order").asText == "C",
      s"$arrayDir: only C (row-major) order supported")
    // filters: the numcodecs byte-shuffle filter is supported (it is what
    // HDF5-converted stores and shuffle-tuned zarr stores carry); anything
    // else is rejected loudly
    val filters = za.path("filters")
    val shuffleElem =
      if (filters.isNull || filters.isMissingNode || !filters.isArray ||
          filters.size == 0) 0
      else {
        require(filters.size == 1 && filters.get(0).path("id").asText == "shuffle",
          s"$arrayDir: unsupported filters ${filters.toString} " +
            "(only a single numcodecs 'shuffle' filter is supported)")
        math.max(1, filters.get(0).path("elementsize").asInt(1))
      }
    val comp = za.path("compressor")
    val codec: Codec =
      if (comp.isNull || comp.isMissingNode) Raw
      else comp.path("id").asText match {
        case "zlib" => Zlib(comp.path("level").asInt(1))
        case "blosc" => Blosc(
          comp.path("cname").asText("lz4"), comp.path("clevel").asInt(5),
          comp.path("shuffle").asInt(1), comp.path("blocksize").asInt(0))
        case "zstd" => ZstdC(comp.path("level").asInt(1))
        case "lz4" => Lz4C(comp.path("acceleration").asInt(1))
        case "graft_jp2" => Jp2TileC(comp.path("header").asText)
        case other => throw new IllegalArgumentException(
          s"$arrayDir: compressor '$other' unsupported " +
            "(null/zlib/blosc/zstd/lz4/graft_jp2)")
      }
    val fv = za.path("fill_value") match {
      case n if n.isNull => Double.NaN
      case n if n.isTextual => n.asText match {
        case "NaN" => Double.NaN
        case "Infinity" => Double.PositiveInfinity
        case "-Infinity" => Double.NegativeInfinity
        case t => throw new IllegalArgumentException(s"$arrayDir: fill_value '$t'")
      }
      case n => n.asDouble
    }
    val shape = za.path("shape").elements.asScala.map(_.asInt).toSeq
    val dims = zattrs
      .map(_.path("_ARRAY_DIMENSIONS"))
      .filter(_.isArray)
      .map(_.elements.asScala.map(_.asText).toSeq)
      .getOrElse(shape.indices.map(i => s"dim_$i"))
    require(dims.length == shape.length, s"$arrayDir: dims/shape rank mismatch")
    def attrNum(key: String, dflt: Double): Double = zattrs
      .map(_.path(key)).filter(_.isNumber).map(_.asDouble).getOrElse(dflt)
    val cfFill = zattrs.map(_.path("_FillValue")).filter(_.isNumber)
      .map(_.asDouble)
    ZarrArray(shape,
      za.path("chunks").elements.asScala.map(_.asInt).toSeq,
      za.path("dtype").asText, fv, codec, dims,
      Option(za.path("dimension_separator").asText(".")).filter(_.nonEmpty)
        .getOrElse("."), shuffleElem,
      attrNum("scale_factor", 1.0), attrNum("add_offset", 0.0), cfFill)
  }

  /** Array names in a group — from the consolidated metadata when present
    * (no directory listing), else the subdirectories holding a `.zarray`.
    */
  def listArrays(groupDir: String): Seq[String] =
    consolidated(groupDir) match {
      case Some(meta) =>
        meta.fieldNames.asScala.filter(_.endsWith("/.zarray"))
          .map(_.stripSuffix("/.zarray")).toSeq.sorted
      case None =>
        val bs = ByteStore.current
        require(bs.exists(s"$groupDir/.zgroup"),
          s"$groupDir: no .zgroup (not a Zarr group)")
        bs.list(groupDir)
          .collect { case (nm, true) if bs.exists(s"$groupDir/$nm/.zarray") => nm }
          .sorted
    }

  // ------------------------------------------------------------- chunk IO

  private def inflate(raw: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(raw)
    val out = new java.io.ByteArrayOutputStream(raw.length * 4)
    val buf = new Array[Byte](64 * 1024)
    var made = -1
    while (!inf.finished() && made != 0) {
      made = inf.inflate(buf)
      out.write(buf, 0, made)
    }
    inf.end()
    require(inf.finished(), "truncated zlib chunk")
    out.toByteArray
  }

  /** Apply ONE bytes→bytes decode step (shared by the v2 single-compressor
    * path and the v3 chain walk).
    */
  private[sources] def decodeStep(raw: Array[Byte], step: Codec): Array[Byte] = step match {
    case Raw => raw
    case _: Zlib => inflate(raw)
    case _: Blosc => BloscCodec.decompress(raw) // frame is self-describing
    case _: ZstdC =>
      val n = com.github.luben.zstd.Zstd.getFrameContentSize(raw)
      require(n > 0 && n <= Int.MaxValue, s"bad zstd frame size $n")
      com.github.luben.zstd.Zstd.decompress(raw, n.toInt)
    case _: Lz4C =>
      val n = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN).getInt(0)
      require(n >= 0, s"bad lz4 size header $n")
      net.jpountz.lz4.LZ4Factory.fastestInstance().safeDecompressor()
        .decompress(raw, 4, raw.length - 4, n)
    case j: Jp2TileC =>
      graft.sources.jp2.Jp2Source.decodeTilePartToI4(
        java.util.Base64.getDecoder.decode(j.headerB64), raw)
    case _: Gzip =>
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(raw))
      try in.readAllBytes() finally in.close()
    case Crc32c =>
      require(raw.length >= 4, "crc32c payload shorter than its checksum")
      val c = new java.util.zip.CRC32C
      c.update(raw, 0, raw.length - 4)
      val stored = ByteBuffer.wrap(raw, raw.length - 4, 4)
        .order(ByteOrder.LITTLE_ENDIAN).getInt
      require(stored == c.getValue.toInt,
        f"crc32c mismatch: stored 0x$stored%08x, computed 0x${c.getValue.toInt}%08x")
      java.util.Arrays.copyOf(raw, raw.length - 4)
    case other => throw new IllegalArgumentException(
      s"codec $other is not a bytes-level decode step")
  }

  /** Cells CONVERTED by the chunk decoders — observability for the
    * sub-chunk decode-skip tests (one atomic add per chunk, no per-cell
    * cost; per-JVM, so meaningful in local mode and per-executor on a
    * cluster). */
  val decodedCells = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Decode one raw chunk file payload to doubles (full chunk-shape sized —
    * the spec pads edge chunks with fill). All numeric dtypes widen to
    * double losslessly except int64/uint64 beyond 2^53 — same convention as
    * [[NetcdfSource]].
    */
  def decodeChunk(raw: Array[Byte], za: ZarrArray): Array[Double] = {
    val (b, kind, n) = chunkBuffer(raw, za)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      out(i) = readElem(b, kind, i)
      i += 1
    }
    if (za.cfActive) { // packed store: mask + scale to physical values
      var j = 0
      while (j < n) { out(j) = za.cfDecode(out(j)); j += 1 }
    }
    decodedCells.addAndGet(n)
    out
  }

  /** [[decodeChunk]] that CONVERTS only the admitted inner blocks of a
    * stats-analyzed large chunk (sidecar block rows, ChunkStats
    * "<key>#<ord>"): decompression runs once over the whole payload (the
    * IO and the codec chain are chunk-granular regardless), but the
    * element-wise convert + CF decode — the decode cost that scales with
    * cells — touches admitted blocks only; excluded cells are filled
    * with `fv`, a value provably outside the consumed interval set, so
    * the cursor's per-cell re-evaluation drops them. Blocks are
    * CONTIGUOUS flat ranges because [[graft.sources.zarr.ChunkStats]]
    * virtual grids split only the slowest non-unit chunk dim. */
  def decodeChunkSelective(raw: Array[Byte], za: ZarrArray,
                           inner: Seq[Int], keep: Set[Int],
                           fv: Double): Array[Double] = {
    val (b, kind, n) = chunkBuffer(raw, za)
    val stripElems = inner.product
    val out = new Array[Double](n)
    java.util.Arrays.fill(out, fv)
    var converted = 0L
    keep.foreach { o =>
      var i = o * stripElems
      val end = math.min(i + stripElems, n)
      converted += math.max(0, end - i)
      if (za.cfActive)
        while (i < end) { out(i) = za.cfDecode(readElem(b, kind, i)); i += 1 }
      else
        while (i < end) { out(i) = readElem(b, kind, i); i += 1 }
    }
    decodedCells.addAndGet(converted)
    out
  }

  /** Shared decompress + buffer prep of the plain-chunk decoders. */
  private def chunkBuffer(raw: Array[Byte], za: ZarrArray)
      : (ByteBuffer, String, Int) = {
    val plain = za.codec match {
      case V3Chain(steps) => steps.reverseIterator.foldLeft(raw)(decodeStep)
      case sh: Shard => throw new IllegalArgumentException(
        s"sharded array reached the plain-chunk decoder ($sh) — read it " +
          "through ZarrV3Source")
      case one => decodeStep(raw, one)
    }
    val bytes =
      if (za.shuffleElem > 1) BloscCodec.unshuffle(plain, za.shuffleElem)
      else plain
    val b = ByteBuffer.wrap(bytes).order(
      if (za.dtype.startsWith(">")) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    val kind = za.dtype.drop(1) // after <, > or |
    val n = za.chunkElems
    require(bytes.length == n * (kind.drop(1).toInt),
      s"chunk holds ${bytes.length} bytes, expected $n × $kind elements")
    (b, kind, n)
  }

  private def readElem(b: ByteBuffer, kind: String, i: Int): Double =
    kind match {
      case "f8" => b.getDouble(i * 8)
      case "f4" => b.getFloat(i * 4).toDouble
      case "i1" => b.get(i).toDouble
      case "u1" | "b1" => (b.get(i) & 0xff).toDouble
      case "i2" => b.getShort(i * 2).toDouble
      case "u2" => (b.getShort(i * 2) & 0xffff).toDouble
      case "i4" => b.getInt(i * 4).toDouble
      case "u4" => (b.getInt(i * 4).toLong & 0xffffffffL).toDouble
      case "i8" | "u8" => b.getLong(i * 8).toDouble
      case k => throw new IllegalArgumentException(s"dtype $k unsupported")
    }

  /** Read a whole (driver-sized) array — used for 1-D coordinate arrays. */
  def readAll(arrayDir: String, za: ZarrArray): Array[Double] = {
    val bs = ByteStore.current
    readAllWith(za, key =>
      bs.readIfExists(s"$arrayDir/${key.mkString(za.separator)}"))
  }

  /** Driver-sized whole-array assembly from any chunk-byte lookup (None =
    * missing chunk = fill) — shared with [[KerchunkSource]].
    */
  private[sources] def readAllWith(za: ZarrArray,
                                   bytesFor: Seq[Int] => Option[Array[Byte]],
                                   decode: (Array[Byte], ZarrArray) => Array[Double] = decodeChunk): Array[Double] = {
    val out = Array.fill(za.shape.product)(za.cfDecode(za.fillValue))
    allChunkKeys(za.chunkGrid).foreach { key =>
      bytesFor(key).foreach { raw =>
        val data = decode(raw, za)
        foreachCell(za, key) { (flatChunk, flatGlobal) =>
          out(flatGlobal.toInt) = data(flatChunk) // driver-sized array
        }
      }
    }
    out
  }

  private[sources] def allChunkKeys(grid: Seq[Int]): Seq[Seq[Int]] =
    grid.foldLeft(Seq(Seq.empty[Int])) { (acc, n) =>
      acc.flatMap(p => (0 until n).map(p :+ _))
    }

  /** Visit each in-bounds cell of chunk `key`: (flat offset within the
    * chunk, flat row-major offset within the full array).
    */
  private[sources] def foreachCell(za: ZarrArray, key: Seq[Int])(f: (Int, Long) => Unit): Unit = {
    val rank = za.shape.length
    val gStride = za.shape.scanRight(1L)(_ * _).tail.toArray
    val idx = new Array[Int](rank)
    val n = za.chunkElems
    var flat = 0
    while (flat < n) {
      var inBounds = true
      var global = 0L
      var k = 0
      while (k < rank) {
        val g = key(k) * za.chunks(k) + idx(k)
        if (g >= za.shape(k)) inBounds = false
        global += g * gStride(k)
        k += 1
      }
      if (inBounds) f(flat, global)
      // odometer increment (last dim fastest — C order)
      var d = rank - 1
      var carry = true
      while (carry && d >= 0) {
        idx(d) += 1
        if (idx(d) == za.chunks(d)) { idx(d) = 0; d -= 1 } else carry = false
      }
      flat += 1
    }
  }

  // ------------------------------------------------------------- writing

  // ------------------------------------------------------------ unchunk

  /** unchunk_dataset (reference `xcube/core/unchunk.py:15-80`): rewrite
    * arrays of a v2 group to a SINGLE chunk in place. Like the reference
    * (which materializes each variable as one numpy array), this is the
    * maintenance utility for coordinate/metadata-scale arrays — data-scale
    * consolidation is the distributed rechunk/optimize path. `coordsOnly`
    * selects arrays whose only dimension is themselves (the zarr
    * coordinate convention); stale consolidated metadata is refreshed.
    * Raw f8 arrays only: re-encoding a CF-packed array would re-quantize.
    */
  def unchunkGroup(groupDir: String, varNames: Seq[String] = Nil,
                   coordsOnly: Boolean = false): Unit = {
    val names = if (varNames.nonEmpty) varNames else listArrays(groupDir)
    val picked = names.filter { n =>
      !coordsOnly || openArray(s"$groupDir/$n").dims == Seq(n)
    }
    picked.foreach(n => unchunkArray(s"$groupDir/$n"))
    // refresh consolidated metadata so .zmetadata readers see the new
    // chunk grid (the .zarray entries changed underneath it)
    if (ByteStore.current.exists(s"$groupDir/.zmetadata"))
      consolidateMetadata(groupDir)
  }

  /** Rewrite one array to a single full-shape chunk, preserving codec and
    * dimension attributes. */
  def unchunkArray(arrayDir: String): Unit = {
    val za = openArray(arrayDir)
    require(!za.cfActive,
      s"$arrayDir: unchunk of CF-packed arrays would re-quantize — rejected")
    require(za.dtype.endsWith("f8"), s"$arrayDir: unchunk supports f8 arrays")
    if (za.chunks == za.shape) return // already one chunk
    val data = readAll(arrayDir, za)
    val bs = ByteStore.current
    // delete the old chunk objects ("0.1.2" flat or "0/1/2" nested)
    bs.walkFiles(arrayDir)
      .filter(rel => rel.split("[./]").forall(s => s.nonEmpty && s.forall(_.isDigit)))
      .foreach(rel => bs.delete(s"$arrayDir/$rel"))
    val key = za.shape.map(_ => 0).mkString(za.separator)
    bs.write(s"$arrayDir/$key", encodeChunk(data, za.codec))
    writeJson(s"$arrayDir/.zarray",
      zarrayJson(za.shape, za.shape, za.codec))
  }

  /** Drop the trailing dim-0 slices of a v2 group IN PLACE — the inverse
    * of [[appendCube]] and the storage form of SQL `DELETE FROM cube
    * WHERE t >= ...` ([[graft.sources.zarr.ZarrTable]].deleteWhere):
    * every array carrying the lead dimension shrinks to `newLen`, the
    * dim-0 coordinate rewrites to one truncated chunk (appendCube's
    * layout), data chunks fully beyond the cut are deleted, and
    * consolidated metadata refreshes. Metadata-sized work — no surviving
    * payload byte is read or rewritten (a boundary chunk keeps its
    * bytes; cells beyond the shape are out of bounds to every reader by
    * the zarr contract). */
  def truncateDim0(groupDir: String, newLen: Int): Unit = {
    val bs = ByteStore.current
    // shape change self-invalidates the ANALYZE sidecar; drop it anyway
    ChunkStats.invalidate(groupDir)
    val names = listArrays(groupDir)
    val metas = names.map(n => n -> openArray(s"$groupDir/$n")).toMap
    val lead = metas.values.maxBy(_.shape.length)
    val dim0 = lead.dims.head
    val oldLen = lead.shape.head
    require(newLen > 0 && newLen < oldLen,
      s"$groupDir: truncate to $newLen outside 1..${oldLen - 1} " +
        "(dropping every slice is a whole-group overwrite, not a truncate)")
    def numericChunk(rel: String): Option[Int] = {
      val parts = rel.split("[./]")
      if (parts.nonEmpty && parts.forall(p => p.nonEmpty && p.forall(_.isDigit)))
        Some(parts.head.toInt)
      else None
    }
    // FULL validation pass before any chunk is deleted or .zarray
    // rewritten: a require failing mid-mutation would leave the group
    // half-truncated (inconsistent dim-0 extents between arrays and
    // metadata) — DELETE must either fully apply or leave the store
    // untouched
    names.foreach { n =>
      val za = metas(n)
      require(!za.dims.drop(1).contains(dim0),
        s"$groupDir/$n: $dim0 in a non-leading position — not truncatable")
      if (n != dim0 && za.dims.headOption.contains(dim0)) {
        require(za.dtype == "<f8",
          s"$groupDir/$n: truncate supports <f8 stores, got ${za.dtype}")
        require(za.shape.head == oldLen,
          s"$groupDir/$n: dim-0 extent ${za.shape.head} != group's $oldLen")
      }
    }
    metas.get(dim0).foreach { cza =>
      require(cza.dtype == "<f8",
        s"$groupDir/$dim0: truncate supports <f8 coords, got ${cza.dtype}")
    }
    names.foreach { n =>
      val za = metas(n)
      if (n != dim0 && za.dims.headOption.contains(dim0)) {
        val keepChunks = (newLen + za.chunks.head - 1) / za.chunks.head
        bs.walkFiles(s"$groupDir/$n").foreach { rel =>
          if (numericChunk(rel).exists(_ >= keepChunks))
            bs.delete(s"$groupDir/$n/$rel")
        }
        writeJson(s"$groupDir/$n/.zarray",
          zarrayJson(newLen +: za.shape.tail, za.chunks, za.codec))
      }
    }
    metas.get(dim0).foreach { cza =>
      val coord = readAll(s"$groupDir/$dim0", cza).take(newLen)
      bs.walkFiles(s"$groupDir/$dim0").foreach { rel =>
        if (numericChunk(rel).isDefined) bs.delete(s"$groupDir/$dim0/$rel")
      }
      bs.write(s"$groupDir/$dim0/0", encodeChunk(
        if (cza.cfActive) coord.map(cza.cfEncode) else coord, cza.codec))
      writeJson(s"$groupDir/$dim0/.zarray",
        zarrayJson(Seq(newLen), Seq(newLen), cza.codec))
    }
    if (bs.exists(s"$groupDir/.zmetadata")) consolidateMetadata(groupDir)
  }

  /** The `.zattrs` of array `name` (or of the GROUP for name = "") as a
    * flat CF text map: strings as-is, numbers/booleans via their JSON
    * text, arrays comma-joined — exactly the value forms the CF
    * grid-mapping parser consumes ([[graft.cube.CfGridMapping]]).
    * Prefers the per-array file (the mutable truth); falls back to the
    * consolidated doc for stores listed through `.zmetadata` alone. */
  def arrayAttrs(groupDir: String, name: String = ""): Map[String, String] = {
    val rel = if (name.isEmpty) ".zattrs" else s"$name/.zattrs"
    readJson(s"$groupDir/$rel")
      .orElse(consolidated(groupDir).map(_.path(rel))
        .filterNot(_.isMissingNode))
      .map(flatAttrs).getOrElse(Map.empty)
  }

  private def flatAttrs(n: JsonNode): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    n.fields().forEachRemaining { e =>
      val v = e.getValue
      val s =
        if (v.isTextual) v.asText()
        else if (v.isArray) {
          val parts = Seq.newBuilder[String]
          v.forEach(el => parts += (if (el.isTextual) el.asText()
                                    else el.asText()))
          parts.result().mkString(",")
        } else v.asText()
      b += e.getKey -> s
    }
    b.result()
  }

  /** CF grid-mapping parameter keys whose values are numeric by the CF
    * spec — the ONLY keys [[updateAttrs]] retypes into JSON numbers.
    * Everything else round-trips verbatim: an `id` of "2,4" or a
    * version of "1e5" must stay a string for external readers. */
  private val CfNumericAttrKeys: Set[String] = Set(
    "standard_parallel", "longitude_of_central_meridian",
    "longitude_of_projection_origin", "latitude_of_projection_origin",
    "scale_factor_at_central_meridian",
    "scale_factor_at_projection_origin",
    "false_easting", "false_northing",
    "straight_vertical_longitude_from_pole",
    "grid_north_pole_latitude", "grid_north_pole_longitude",
    "north_pole_grid_longitude", "perspective_point_height",
    "earth_radius", "semi_major_axis", "semi_minor_axis",
    "inverse_flattening", "longitude_of_prime_meridian",
    "azimuth_of_central_line", "rectified_grid_angle")

  /** Merge `kv` into the `.zattrs` of array `name` (group-level for "")
    * — read-modify-write PRESERVING existing keys (`_ARRAY_DIMENSIONS`
    * most of all), re-consolidating `.zmetadata` when one exists.
    * Values of known CF NUMERIC parameter keys ([[CfNumericAttrKeys]])
    * are written in their native JSON forms (number, or array for
    * comma-joined lists like two standard parallels) so external CF
    * readers see numeric parameters; any other string passes through
    * verbatim. The rioxarray `write_crs`-shaped primitive behind
    * [[graft.cube.CfGridMapping.attachToZarr]]. */
  def updateAttrs(groupDir: String, name: String,
                  kv: Map[String, String]): Unit = {
    val rel = if (name.isEmpty) ".zattrs" else s"$name/.zattrs"
    val node = readJson(s"$groupDir/$rel") match {
      case Some(o: com.fasterxml.jackson.databind.node.ObjectNode) => o
      case _ => mapper.createObjectNode()
    }
    kv.foreach { case (k, v) =>
      val parts = v.split(',').map(_.trim)
      if (!CfNumericAttrKeys.contains(k)) { node.put(k, v); () }
      else if (parts.length > 1 && parts.forall(_.toDoubleOption.isDefined)) {
        val a = node.putArray(k)
        parts.foreach(p => a.add(p.toDouble))
      } else v.toDoubleOption match {
        case Some(d) => node.put(k, d); ()
        case None => node.put(k, v); ()
      }
    }
    writeJson(s"$groupDir/$rel", mapper.writeValueAsString(node))
    if (ByteStore.current.exists(s"$groupDir/.zmetadata"))
      consolidateMetadata(groupDir)
  }

  /** Re-consolidate a group's `.zmetadata` from the current per-array
    * `.zarray`/`.zattrs` files (zarr_consolidated_format 1). */
  def consolidateMetadata(groupDir: String): Unit = {
    val entries = Seq.newBuilder[(String, JsonNode)]
    readJson(s"$groupDir/.zgroup").foreach(n => entries += ".zgroup" -> n)
    readJson(s"$groupDir/.zattrs").foreach(n => entries += ".zattrs" -> n)
    listArrays(groupDir).foreach { name =>
      readJson(s"$groupDir/$name/.zarray")
        .foreach(n => entries += s"$name/.zarray" -> n)
      readJson(s"$groupDir/$name/.zattrs")
        .foreach(n => entries += s"$name/.zattrs" -> n)
    }
    val meta = mapper.createObjectNode()
    entries.result().foreach { case (k, v) => meta.set[JsonNode](k, v) }
    val root = mapper.createObjectNode()
    root.put("zarr_consolidated_format", 1)
    root.set[JsonNode]("metadata", meta)
    writeJson(s"$groupDir/.zmetadata", mapper.writeValueAsString(root))
  }

  private def writeJson(path: String, json: String): Unit =
    ByteStore.current.write(path, json.getBytes("UTF-8"))

  private def deflate(bytes: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater() // default = zlib-wrapped stream
    d.setInput(bytes); d.finish()
    val out = new java.io.ByteArrayOutputStream(bytes.length / 2 + 64)
    val buf = new Array[Byte](64 * 1024)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def zarrayJson(shape: Seq[Int], chunks: Seq[Int], codec: Codec): String = {
    val comp = codec match {
      case Raw => "null"
      case Zlib(level) => s"""{"id": "zlib", "level": $level}"""
      case Blosc(cname, clevel, shuffle, blocksize) =>
        s"""{"id": "blosc", "cname": "$cname", "clevel": $clevel, "shuffle": $shuffle, "blocksize": $blocksize}"""
      case ZstdC(level) => s"""{"id": "zstd", "level": $level}"""
      case Lz4C(acc) => s"""{"id": "lz4", "acceleration": $acc}"""
      case other => throw new IllegalArgumentException(
        s"$other has no v2 numcodecs form — write v3 stores through ZarrV3Source")
    }
    s"""{"zarr_format": 2, "dtype": "<f8", "shape": [${shape.mkString(", ")}],
       | "chunks": [${chunks.mkString(", ")}], "fill_value": "NaN",
       | "compressor": $comp, "filters": null, "order": "C"}""".stripMargin
  }

  /** Apply ONE bytes→bytes encode step — the inverse of [[decodeStep]]. */
  private[sources] def encodeStep(block: Array[Byte], step: Codec): Array[Byte] = step match {
    case Raw => block
    case _: Zlib => deflate(block)
    case Blosc(cname, clevel, shuffle, blocksize) =>
      BloscCodec.compress(block, typesize = 8, cname = cname,
        clevel = clevel, shuffle = shuffle != 0, blocksizeHint = blocksize)
    case ZstdC(level) =>
      com.github.luben.zstd.Zstd.compress(block,
        math.min(math.max(level, 1), 19))
    case Lz4C(_) =>
      val c = net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()
      val out = ByteBuffer.allocate(4 + c.maxCompressedLength(block.length))
        .order(ByteOrder.LITTLE_ENDIAN)
      out.putInt(block.length)
      val len = c.compress(block, 0, block.length, out.array(), 4,
        out.capacity() - 4)
      java.util.Arrays.copyOf(out.array(), 4 + len)
    case Gzip(level) =>
      val bos = new java.io.ByteArrayOutputStream(block.length / 2 + 64)
      val gz = new java.util.zip.GZIPOutputStream(bos) {
        `def`.setLevel(math.min(math.max(level, 0), 9))
      }
      gz.write(block); gz.close()
      bos.toByteArray
    case Crc32c =>
      val c = new java.util.zip.CRC32C
      c.update(block, 0, block.length)
      val out = java.util.Arrays.copyOf(block, block.length + 4)
      ByteBuffer.wrap(out, block.length, 4).order(ByteOrder.LITTLE_ENDIAN)
        .putInt(c.getValue.toInt)
      out
    case other => throw new IllegalArgumentException(
      s"codec $other is not a bytes-level encode step")
  }

  private[sources] def encodeChunk(data: Array[Double], codec: Codec): Array[Byte] = {
    val b = ByteBuffer.allocate(data.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    data.foreach(b.putDouble)
    codec match {
      case V3Chain(steps) => steps.foldLeft(b.array())(encodeStep)
      case sh: Shard => throw new IllegalArgumentException(
        s"sharded array reached the plain-chunk encoder ($sh) — write it " +
          "through ZarrV3Source")
      case one => encodeStep(b.array(), one)
    }
  }

  /** The chunk id [[cellsByChunkVars]] gives a row whose coordinates are
    * not all among the lookups; the writers' chunk tasks skip it. */
  private[sources] val UnmatchedChunk = -1L

  /** The shared write-side layout step ([[writeCubeVars]], [[appendCube]]
    * and [[ZarrV3Source.writeCube]]): map each dim's value to its index
    * with [[graft.functions.CoordIndex]] (binary search over the
    * driver-held `lookups`, no Spark job), then compute (row-major chunk
    * id over `grid`, in-chunk offset) with integer arithmetic. A row whose
    * value is not among the lookups gets chunk id [[UnmatchedChunk]] and
    * is dropped by the writer's chunk task, as the inner join this
    * replaces dropped it. The drop is not a Filter: Catalyst would push
    * one on a grouping column below the input's aggregates, where it
    * re-evaluates the lookup (and the expression it looks up) on every
    * input row. The per-row payload is the array of all variable values,
    * so one shuffle by `__cid` downstream moves each input row exactly
    * once. Each dim's lookup values must be distinct.
    */
  private[sources] def cellsByChunkVars(df: DataFrame, dimNames: Seq[String],
                                        lookups: Seq[Seq[(Double, Int)]],
                                        grid: Seq[Int], chunks: Seq[Int],
                                        varNames: Seq[String]): org.apache.spark.sql.Dataset[(Long, Int, Seq[Double])] = {
    val spark = df.sparkSession
    import spark.implicits._
    val idx = dimNames.indices.map(k => col(s"__i$k"))
    val withIdx = df.select(dimNames.zip(lookups).zipWithIndex.map {
        case ((name, lookup), k) =>
          graft.functions.CoordIndex.col(col(name), lookup).as(s"__i$k")
      } ++ varNames.map(col): _*)
    val matched = idx.map(_.isNotNull).reduce(_ && _)
    val cid = dimNames.indices.foldLeft(lit(0L)) { (acc, k) =>
      acc * grid(k) + floor(idx(k) / chunks(k)).cast("long")
    }
    val off = dimNames.indices.foldLeft(lit(0L)) { (acc, k) =>
      acc * chunks(k) + (idx(k) % chunks(k))
    }
    withIdx.select(when(matched, cid).otherwise(UnmatchedChunk).as("__cid"),
        when(matched, off.cast("int")).otherwise(0).as("__off"),
        array(varNames.map(col(_).cast("double")): _*).as("__vs"))
      .as[(Long, Int, Seq[Double])]
  }

  /** The writers' one shuffle: group [[cellsByChunkVars]]' rows by chunk
    * id and run `write` once per chunk with its rows, skipping the
    * unmatched rows' [[UnmatchedChunk]] group. */
  private[sources] def perChunk[U: org.apache.spark.sql.Encoder](
      cells: org.apache.spark.sql.Dataset[(Long, Int, Seq[Double])])(
      write: (Long, Iterator[(Long, Int, Seq[Double])]) => Iterator[U])
      : org.apache.spark.sql.Dataset[U] = {
    val spark = cells.sparkSession
    import spark.implicits._
    cells.groupByKey(_._1).flatMapGroups { (cid, it) =>
      if (cid == UnmatchedChunk) Iterator.empty else write(cid, it)
    }
  }

  /** Decompose a row-major chunk id back into per-dim chunk coordinates. */
  private[sources] def chunkKeyOf(cid: Long, grid: Seq[Int]): Array[Long] = {
    val key = new Array[Long](grid.length)
    var rem = cid
    var k = grid.length - 1
    while (k >= 0) { key(k) = rem % grid(k); rem /= grid(k); k -= 1 }
    key
  }

  /** Distributed Zarr group writer: `df` holds one row per non-fill cell
    * with a column per dimension (values drawn EXACTLY from `dims`' coord
    * arrays — the lookup below is an equality on doubles; a row with a
    * value not among them is dropped) plus `varName`. Each coord array
    * holds distinct values.
    *
    * Plan shape: map each dim's value to its index by binary search over
    * the sorted coord array ([[graft.functions.CoordIndex]], evaluated in
    * the scan's stage), compute (chunk id, in-chunk offset) with integer
    * arithmetic, shuffle ONCE by chunk id, assemble + zlib + write each
    * chunk inside its task (memory bounded by chunk size): two Spark jobs,
    * the shuffle's map stage and the chunk writes. Cells with no row get
    * the NaN fill; chunks with no rows at all are not written (spec:
    * missing chunk = fill).
    */
  def writeCube(df: DataFrame, groupDir: String, varName: String,
                dims: Seq[(String, Array[Double])], chunks: Seq[Int],
                codec: Codec = Zlib(), stats: Boolean = false): Unit =
    writeCubeVars(df, groupDir, Seq(varName), dims, chunks, codec, stats)

  /** Multi-variable distributed writer — [[writeCube]] generalized to a
    * WHOLE dataset the way the reference's `to_zarr` writes one: `df`
    * carries a column per dimension plus one column PER DATA VARIABLE
    * (non-null; use NaN for missing cells), and the group gets one array
    * per variable sharing the dims/chunk grid. Still exactly ONE shuffle
    * by chunk id: each task assembles all N variables' buffers for its
    * chunk key and writes N chunk objects — an N-variable cube is one pass
    * over the rows, not N single-variable writes re-shuffling the same
    * input N times.
    *
    * `stats = true` folds the chunk-statistics sidecar
    * ([[graft.sources.zarr.ChunkStats]]) out of the write tasks, so the
    * cube needs no ANALYZE; `statsInlineBudget` is the row budget of its
    * inline form.
    */
  def writeCubeVars(df: DataFrame, groupDir: String, varNames: Seq[String],
                    dims: Seq[(String, Array[Double])], chunks: Seq[Int],
                    codec: Codec = Zlib(), stats: Boolean = false,
                    statsInlineBudget: Long = ChunkStats.MaxInlineStatRows)
      : Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    require(dims.length == chunks.length, "one chunk extent per dimension")
    require(varNames.nonEmpty, "at least one data variable")
    val shape = dims.map(_._2.length)
    // ---- (value → index) lookups, chunk id + offset via integer
    // arithmetic (shared layout step; checks the coords before any write),
    // ONE shuffle by chunk id below
    val grid = shape.zip(chunks).map { case (s0, c) => (s0 + c - 1) / c }
    val cells = cellsByChunkVars(df, dims.map(_._1),
      dims.map(_._2.zipWithIndex.toSeq), grid, chunks, varNames)

    // ---- metadata + driver-sized coordinate arrays
    val bs = ByteStore.current
    // overwriting chunk objects of an existing identical grid is the one
    // mutation a stale ANALYZE sidecar would survive shape-checking
    ChunkStats.invalidate(groupDir)
    bs.mkdirs(groupDir)
    writeJson(s"$groupDir/.zgroup", """{"zarr_format": 2}""")
    writeJson(s"$groupDir/.zattrs", "{}")
    val arrayMeta = Seq.newBuilder[(String, String, String)]
    dims.foreach { case (name, values) =>
      val d = s"$groupDir/$name"
      bs.mkdirs(d)
      val zarr = zarrayJson(Seq(values.length), Seq(values.length), codec)
      val zatt = s"""{"_ARRAY_DIMENSIONS": ["$name"]}"""
      writeJson(s"$d/.zarray", zarr)
      writeJson(s"$d/.zattrs", zatt)
      arrayMeta += ((name, zarr, zatt))
      bs.write(s"$d/0", encodeChunk(values, codec))
    }
    val varZarr = zarrayJson(shape, chunks, codec)
    val varZatt =
      s"""{"_ARRAY_DIMENSIONS": [${dims.map(d => s""""${d._1}"""").mkString(", ")}]}"""
    varNames.foreach { varName =>
      val arrayDir = s"$groupDir/$varName"
      bs.mkdirs(arrayDir)
      writeJson(s"$arrayDir/.zarray", varZarr)
      writeJson(s"$arrayDir/.zattrs", varZatt)
      arrayMeta += ((varName, varZarr, varZatt))
    }
    // consolidated metadata, like the reference's to_zarr default — one
    // document a reader fetches instead of 2·N per-array files. Writing
    // INTO an existing group MERGES the new arrays' entries into the
    // existing document: a replace would hide every earlier array from
    // consolidated-first listing (to_zarr with mode="a" re-consolidates
    // the union the same way)
    val metaDoc: com.fasterxml.jackson.databind.node.ObjectNode =
      readJson(s"$groupDir/.zmetadata") match {
        case Some(existing: com.fasterxml.jackson.databind.node.ObjectNode)
            if existing.path("metadata").isObject => existing
        case _ =>
          val fresh = mapper.createObjectNode()
          fresh.put("zarr_consolidated_format", 1)
          fresh.putObject("metadata")
          fresh
      }
    val m = metaDoc.path("metadata")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    m.set(".zgroup", mapper.readTree("""{"zarr_format": 2}"""))
    m.set(".zattrs", mapper.readTree("{}"))
    arrayMeta.result().foreach { case (name, zarr, zatt) =>
      m.set(s"$name/.zarray", mapper.readTree(zarr))
      m.set(s"$name/.zattrs", mapper.readTree(zatt))
      ()
    }
    writeJson(s"$groupDir/.zmetadata", mapper.writeValueAsString(metaDoc))

    // ---- each task materializes + writes one chunk object PER VARIABLE
    val chunkElems = chunks.product
    val sep = "." // spec default separator; matches openArray's default
    val nVars = varNames.length
    val taskBs = bs // captured VALUE — the write runs inside chunk tasks
    val computeStats = stats
    val za = ZarrArray(shape, chunks, "<f8", Double.NaN, codec,
      dims.map(_._1), sep)
    val grids = Seq.fill(nVars)(ChunkStats.blockGrid(za, v3 = false))
    val written = perChunk(cells) { (cidV, it) =>
      val data = Array.fill(nVars)(Array.fill(chunkElems)(Double.NaN))
      it.foreach { case (_, o, vs) =>
        var v = 0
        while (v < nVars) { data(v)(o) = vs(v); v += 1 }
      }
      val keyIdx = chunkKeyOf(cidV, grid)
      val key = keyIdx.mkString(sep)
      var v = 0
      while (v < nVars) {
        taskBs.write(s"$groupDir/${varNames(v)}/$key", encodeChunk(data(v), codec))
        v += 1
      }
      if (!computeStats) Iterator.empty
      else ChunkStats.chunkRows(za, keyIdx.map(_.toInt).toSeq, varNames,
        grids, data).iterator
    }
    // the action runs the job; the writes are its side effect
    if (computeStats)
      ChunkStats.writeSidecar(groupDir, groupDir, varNames.map(_ -> za),
        v3 = false, written, budget = statsInlineBudget)
    else written.foreach((_: ChunkStats.StatRow) => ())
  }

  /** Append slices along dimension 0 (time, in the reference's cubes) to an
    * existing group written by [[writeCube]] — the Zarr-side equivalent of
    * the Parquet-layout `append_time_slice` (reference: `dsio.py:411-533`
    * append mode). The store grows IN PLACE: shape[0] is extended in
    * `.zarray`, only chunks covering the new region are written (when the
    * old length is not a multiple of the dim-0 chunk extent, the one
    * boundary chunk is read-modify-written inside its task), the dim-0
    * coordinate array is extended, and `.zmetadata` is patched — nothing
    * already on disk is rewritten besides those metadata documents and the
    * boundary chunk. Same scale shape as [[writeCube]]: one shuffle by
    * chunk id, per-task memory bounded by one chunk.
    *
    * `df` holds the new cells: a column per dimension (dim 0 drawn from
    * `newCoord`, the rest from the store's existing coordinate arrays) plus
    * `varName`. `newCoord` values must not already be in the store's dim-0
    * coordinates. An inline chunk-statistics sidecar
    * ([[graft.sources.zarr.ChunkStats]]) of this variable alone stays
    * valid: the append folds the chunks it writes into it.
    */
  def appendCube(df: DataFrame, groupDir: String, varName: String,
                 newCoord: Array[Double]): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val arrayDir = s"$groupDir/$varName"
    val za = openArray(arrayDir)
    // INCREMENTAL sidecar maintenance: when the store is analyzed
    // (inline doc, this variable only), the append folds exactly the
    // chunks it writes and carries the other rows over, so an appended
    // cube STAYS analyzed without an O(all chunks) re-pass. Loaded BEFORE
    // the invalidate below (which bumps the generation).
    val carried: Option[ChunkStats.EagerStats] =
      ChunkStats.load(ByteStore.current, groupDir, za, groupDir) match {
        case Some(e: ChunkStats.EagerStats)
            if e.vars.keySet == Set(varName) => Some(e)
        case _ => None
      }
    // shape change self-invalidates the ANALYZE sidecar; drop it anyway
    ChunkStats.invalidate(groupDir)
    require(za.dtype == "<f8", s"appendCube supports <f8 stores, got ${za.dtype}")
    val dim0 = za.dims.head
    val oldLen = za.shape.head
    val coordZa = openArray(s"$groupDir/$dim0")
    val oldCoord0 = readAll(s"$groupDir/$dim0", coordZa)
    require(!newCoord.exists(oldCoord0.contains),
      s"appendCube: new $dim0 values overlap the store's existing coordinates")
    val newLen = oldLen + newCoord.length
    val shape = newLen +: za.shape.tail
    val chunks = za.chunks
    val otherCoords: Seq[Array[Double]] = za.dims.tail.map(dim =>
      readAll(s"$groupDir/$dim", openArray(s"$groupDir/$dim")))

    // (value → index) lookups: dim 0 against the NEW coordinates only
    // (global index = oldLen + position), the rest against the store's
    val lookups = (newCoord.zipWithIndex.map { case (v, i) => (v, oldLen + i) }.toSeq
      +: otherCoords.map(_.zipWithIndex.toSeq))
    val grid = shape.zip(chunks).map { case (s0, c) => (s0 + c - 1) / c }
    val cells = cellsByChunkVars(df, za.dims, lookups, grid, chunks, Seq(varName))

    val chunkElems = chunks.product
    val codec = za.codec
    val sep = za.separator
    val zaForDecode = za // closure-captured; decode needs dtype/codec/chunks only
    val taskBs = ByteStore.current // captured VALUE — runs inside chunk tasks
    val foldStats = carried.isDefined
    val zaGrown = za.copy(shape = shape) // the fold's in-bounds cells
    val grids = Seq(ChunkStats.blockGrid(za, v3 = false))
    val written = perChunk(cells) { (cidV, it) =>
      val keyIdx = chunkKeyOf(cidV, grid)
      val path = s"$arrayDir/${keyIdx.mkString(sep)}"
      // boundary chunk: merge over what is already on disk (only possible
      // when oldLen % chunks(0) != 0 — at most one dim-0 chunk row)
      val data = taskBs.readIfExists(path) match {
        case Some(raw0) => decodeChunk(raw0, zaForDecode)
        case None => Array.fill(chunkElems)(Double.NaN)
      }
      it.foreach { case (_, o, vs) => data(o) = vs.head }
      // packed store: `data` holds PHYSICAL values (decodeChunk applied
      // mask-and-scale, and the incoming DataFrame is physical by contract)
      // — invert the packing before writing so the .zattrs scale/offset are
      // not applied twice on the next read
      val raw =
        if (zaForDecode.cfActive) data.map(zaForDecode.cfEncode) else data
      taskBs.write(path, encodeChunk(raw, codec))
      if (!foldStats) Iterator.empty
      else ChunkStats.chunkRows(zaGrown, keyIdx.map(_.toInt).toSeq,
        Seq(varName), grids, Array(data)).iterator
    }
    // the action runs the job; the writes are its side effect
    carried match {
      case Some(e) =>
        val kept = e.vars(varName).toSeq.map { case (k, st) =>
          ChunkStats.StatRow(varName, k, st)
        }
        ChunkStats.writeSidecar(groupDir, groupDir, Seq(varName -> zaGrown),
          v3 = false, written,
          carry = ChunkStats.rowsBefore(kept, oldLen / chunks.head))
      case None => written.foreach((_: ChunkStats.StatRow) => ())
    }

    // extend the dim-0 coordinate array (driver-sized, single chunk) and
    // the variable's shape; patch consolidated metadata in place
    val coord0 = oldCoord0 ++ newCoord
    val coordZarr = zarrayJson(Seq(newLen), Seq(newLen), codec)
    writeJson(s"$groupDir/$dim0/.zarray", coordZarr)
    ByteStore.current.write(s"$groupDir/$dim0/0",
      encodeChunk(
        if (coordZa.cfActive) coord0.map(coordZa.cfEncode) else coord0, codec))
    val varZarr = zarrayJson(shape, chunks, codec)
    writeJson(s"$arrayDir/.zarray", varZarr)
    readJson(s"$groupDir/.zmetadata").foreach { metaDoc =>
      val m = metaDoc.path("metadata") match {
        case o: com.fasterxml.jackson.databind.node.ObjectNode => o
        case _ => throw new IllegalStateException(s"$groupDir/.zmetadata malformed")
      }
      m.set(s"$dim0/.zarray", mapper.readTree(coordZarr))
      m.set(s"$varName/.zarray", mapper.readTree(varZarr))
      writeJson(s"$groupDir/.zmetadata", mapper.writeValueAsString(metaDoc))
    }
  }
}
