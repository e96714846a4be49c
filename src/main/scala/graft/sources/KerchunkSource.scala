package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Kerchunk-style virtual datasets — the reference opens archives of
  * NetCDF/GeoTIFF granules WITHOUT converting them by pointing a Zarr
  * reader at a JSON document of byte-range references (xcube's kerchunk
  * support in `store/fs/impl/dataset.py`; the format is fsspec's
  * ReferenceFileSystem spec v1). A refs document maps Zarr keys to either
  * inline content (metadata JSON, small chunks — optionally
  * base64-encoded) or `[url, offset, length]` byte ranges into the
  * original files:
  *
  * {{{
  * { "version": 1,
  *   "refs": {
  *     ".zgroup":      "{\"zarr_format\":2}",
  *     "v/.zarray":    "{...}",
  *     "v/0.0.0":      ["file:///archive/a.nc", 7432, 288000],
  *     "lat/0":        "base64:AAAA..." } }
  * }}}
  *
  * `spark.read.format("kerchunk").load(refsJson)` reads such a document
  * as a cube with the SAME scan as `format("zarr")` (missing key → fill
  * value); [[scanZarr]] and [[scanNetcdf]] are the generator
  * side — they index an existing Zarr group / NetCDF-3 classic file into a
  * refs document without touching the payload bytes (the NetCDF scan reads
  * only the header, exactly like kerchunk's netCDF3 scanner).
  *
  * Scale story: the refs document itself is the known kerchunk bottleneck
  * (millions of chunks → a large JSON); `format("kerchunk")` opens it
  * lazily ([[graft.sources.zarr.ZarrTable.openRefsLazy]]): metadata and
  * coordinates stream in bounded passes and only the chunks that survive
  * pruning have their refs resolved. Each task then does
  * one positioned range-read against the original file — on a cluster
  * store that is the same access pattern as a parquet column chunk read.
  * Templates (`{{u}}`) and the parquet-refs evolution are out of scope v0.
  */
object KerchunkSource {

  /** One reference target: inline bytes or a byte range of an external
    * file. `length == -1` means "to end of file" (the spec allows a bare
    * `[url]` / `[url, offset]` form).
    */
  final case class Ref(url: String, offset: Long, length: Long,
                       inline: Array[Byte]) extends Serializable {
    def isInline: Boolean = inline != null
  }

  final case class Refs(entries: Map[String, Ref]) extends Serializable {
    def apply(key: String): Ref = entries.getOrElse(key,
      throw new IllegalArgumentException(s"no ref for key '$key'"))
    def contains(key: String): Boolean = entries.contains(key)
    /** Inline metadata value parsed as JSON (`.zarray`, `.zattrs`, ...). */
    def json(key: String): Option[JsonNode] =
      entries.get(key).map { r =>
        require(r.isInline, s"metadata key '$key' must be inline")
        mapper.readTree(r.inline)
      }
  }

  private val mapper = new ObjectMapper()

  /** Fixed variables above this size are indexed as one ref per
    * first-dimension slice instead of one whole-variable ref.
    */
  private val MaxFixedChunkBytes: Long = 64L * 1024 * 1024

  // ------------------------------------------------------------- parsing

  def parse(jsonPath: String): Refs =
    parseJson(mapper.readTree(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(jsonPath))))

  def parseJson(doc: JsonNode): Refs = {
    require(doc.path("version").asInt(1) == 1,
      s"unsupported kerchunk version ${doc.path("version")}")
    val refs = doc.path("refs")
    require(refs.isObject, "no 'refs' object (not a kerchunk document)")
    val entries = refs.properties.iterator.asScala.map { e =>
      val v = e.getValue
      val ref =
        if (v.isTextual) {
          val t = v.asText
          val bytes =
            if (t.startsWith("base64:"))
              java.util.Base64.getDecoder.decode(t.stripPrefix("base64:"))
            else t.getBytes("UTF-8")
          Ref(null, 0L, 0L, bytes)
        } else if (v.isArray) {
          require(v.size >= 1 && v.size <= 3,
            s"ref '${e.getKey}': expected [url(, offset(, length))]")
          require(!v.get(0).asText.contains("{{"),
            s"ref '${e.getKey}': URL templates are out of scope")
          Ref(v.get(0).asText,
            if (v.size > 1) v.get(1).asLong else 0L,
            if (v.size > 2) v.get(2).asLong else -1L, null)
        } else throw new IllegalArgumentException(
          s"ref '${e.getKey}': unsupported value $v")
      e.getKey -> ref
    }.toMap
    Refs(entries)
  }

  // ---------------------------------------------------- lazy/large refs

  /** Stream the refs of `jsonPath` in document order through `emit`,
    * holding ONE entry at a time (Jackson token stream — the document
    * tree is never built). Keys failing `keep` are skipped without
    * materializing their value. This is the large-reference-set contract
    * (reference `store/ref/store.py:49-53`, lazy/LRU reference loading):
    * driver memory is bounded by what the CALLER retains, not by the
    * archive's ref count — a 10^8-ref document streams through in one
    * pass. Returns the number of kept entries.
    */
  def streamRefs(jsonPath: String, keep: String => Boolean)
                (emit: (String, Ref) => Unit): Long = {
    import com.fasterxml.jackson.core.JsonToken
    // local documents stream from disk; object-store documents fetch once
    // and tokenize from memory (driver-side planning pass — the memory
    // cost is one copy of the doc, still never the parsed tree)
    val p =
      if (isLocalPath(jsonPath))
        mapper.getFactory.createParser(new java.io.File(jsonPath))
      else mapper.getFactory.createParser(ByteStore.current.read(jsonPath))
    try {
      require(p.nextToken() == JsonToken.START_OBJECT,
        s"$jsonPath: not a JSON object")
      var version = 1
      var kept = 0L
      var sawRefs = false
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        p.currentName() match {
          case "version" =>
            p.nextToken(); version = p.getIntValue
          case "refs" =>
            require(p.nextToken() == JsonToken.START_OBJECT,
              s"$jsonPath: 'refs' must be an object")
            sawRefs = true
            while (p.nextToken() == JsonToken.FIELD_NAME) {
              val key = p.currentName()
              val t = p.nextToken()
              if (!keep(key)) { if (t.isStructStart) p.skipChildren() }
              else {
                emit(key, refFromTokens(p, key, t))
                kept += 1
              }
            }
          case _ =>
            p.nextToken(); if (p.currentToken().isStructStart) p.skipChildren()
        }
      }
      require(version == 1, s"unsupported kerchunk version $version")
      require(sawRefs, s"$jsonPath: no 'refs' object (not a kerchunk document)")
      kept
    } finally p.close()
  }

  /** One ref value from the token stream (cursor ON the value token). */
  private def refFromTokens(p: com.fasterxml.jackson.core.JsonParser,
                            key: String,
                            t: com.fasterxml.jackson.core.JsonToken): Ref = {
    import com.fasterxml.jackson.core.JsonToken
    t match {
      case JsonToken.VALUE_STRING =>
        val s = p.getText
        val bytes =
          if (s.startsWith("base64:"))
            java.util.Base64.getDecoder.decode(s.stripPrefix("base64:"))
          else s.getBytes("UTF-8")
        Ref(null, 0L, 0L, bytes)
      case JsonToken.START_ARRAY =>
        val parts = scala.collection.mutable.ArrayBuffer.empty[Any]
        var tok = p.nextToken()
        while (tok != JsonToken.END_ARRAY) {
          parts += (tok match {
            case JsonToken.VALUE_STRING => p.getText
            case JsonToken.VALUE_NUMBER_INT | JsonToken.VALUE_NUMBER_FLOAT =>
              p.getLongValue
            case other => throw new IllegalArgumentException(
              s"ref '$key': unsupported array element $other")
          })
          tok = p.nextToken()
        }
        require(parts.nonEmpty && parts.length <= 3,
          s"ref '$key': expected [url(, offset(, length))]")
        val url = parts.head.asInstanceOf[String]
        require(!url.contains("{{"),
          s"ref '$key': URL templates are out of scope")
        Ref(url,
          if (parts.length > 1) parts(1).asInstanceOf[Long] else 0L,
          if (parts.length > 2) parts(2).asInstanceOf[Long] else -1L, null)
      case other => throw new IllegalArgumentException(
        s"ref '$key': unsupported value token $other")
    }
  }

  /** [[parse]] restricted to keys passing `keep`, via [[streamRefs]] —
    * memory is O(kept), not O(document). */
  def parseSelective(jsonPath: String, keep: String => Boolean): Refs = {
    val b = Map.newBuilder[String, Ref]
    streamRefs(jsonPath, keep)((k, r) => b += k -> r)
    Refs(b.result())
  }

  /** Planning-time bulk resolver for data-chunk refs — the DSv2 refs
    * connector asks it for exactly the surviving chunks' keys after
    * pruning, so the lazy implementation bounds driver memory by the
    * QUERY's chunk count, not the archive's. */
  sealed trait RefLookup extends Serializable {
    def bulk(keys: Seq[String]): Map[String, Ref]
  }

  /** All refs already in memory (scanner-generated documents). */
  final case class EagerRefLookup(refs: Refs) extends RefLookup {
    override def bulk(keys: Seq[String]): Map[String, Ref] =
      keys.iterator.flatMap(k => refs.entries.get(k).map(k -> _)).toMap
  }

  /** One streaming pass over the document per bulk call, keeping only the
    * requested keys (the [[streamRefs]] contract — O(requested) memory,
    * O(document) time once per query plan). */
  final case class LazyRefLookup(jsonPath: String) extends RefLookup {
    override def bulk(keys: Seq[String]): Map[String, Ref] = {
      val want = keys.toSet
      val b = Map.newBuilder[String, Ref]
      streamRefs(jsonPath, want.contains)((k, r) => b += k -> r)
      b.result()
    }
  }

  /** Fetch a ref's payload. Runs in the chunk task for data keys. The
    * positioned range read goes through [[ByteStore.readRange]], so refs
    * may point at local files (file:// or bare paths) OR at object-store
    * URLs (s3g://...) — a kerchunk index over granules that live in a
    * bucket reads in place with ranged GETs, which is the format's whole
    * point at cloud scale. Executor-side callers pass the driver-captured
    * ByteStore so remote options travel with the task.
    */
  def fetch(ref: Ref, bs: ByteStore = ByteStore.current): Array[Byte] = {
    if (ref.isInline) return ref.inline
    bs.readRange(refPath(ref.url), ref.offset, ref.length)
  }

  private def refPath(url: String): String =
    if (url.startsWith("file:"))
      java.nio.file.Paths.get(java.net.URI.create(url)).toString
    else url // bare local path or scheme'd object-store URL

  /** Fetch MANY refs with per-file byte-range coalescing
    * ([[ByteStore.readRanges]] — neighboring refs into the same granule
    * merge into one ranged GET, the reference store's `max_gap`/
    * `max_block` behavior). `None` / inline / open-ended entries pass
    * through untouched; output order matches input order. The multi-ref
    * task primitive: a DSv2 partition reading n variables' chunks from
    * one granule pays one request per merged block, not one per ref.
    */
  def fetchAll(refs: Seq[Option[Ref]],
               bs: ByteStore = ByteStore.current): Seq[Option[Array[Byte]]] = {
    val out = new Array[Option[Array[Byte]]](refs.length)
    val ranged = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]]
    refs.zipWithIndex.foreach {
      case (None, i) => out(i) = None
      case (Some(r), i) if r.isInline => out(i) = Some(r.inline)
      case (Some(r), i) if r.length < 0 => // to-EOF: not coalescible
        out(i) = Some(fetch(r, bs))
      case (Some(r), i) =>
        ranged.getOrElseUpdate(refPath(r.url),
          scala.collection.mutable.ArrayBuffer.empty) += ((i, r.offset, r.length))
    }
    ranged.foreach { case (path, items) =>
      val bytes = bs.readRanges(path, items.map(t => (t._2, t._3)).toSeq)
      items.zip(bytes).foreach { case ((i, _, _), b) => out(i) = Some(b) }
    }
    out.toSeq
  }

  // ------------------------------------------------------------- reading

  /** The virtual group's array metadata for `name`. */
  def openArray(refs: Refs, name: String): ZarrSource.ZarrArray = {
    val za = refs.json(s"$name/.zarray").getOrElse(
      throw new IllegalArgumentException(s"no '$name/.zarray' ref"))
    ZarrSource.parseArrayJson(za, refs.json(s"$name/.zattrs"), s"refs:$name")
  }

  def listArrays(refs: Refs): Seq[String] =
    refs.entries.keys.filter(_.endsWith("/.zarray"))
      .map(_.stripSuffix("/.zarray")).toSeq.sorted

  /** Whole (driver-sized) array — 1-D coordinates. */
  private[sources] def readAll(refs: Refs, name: String,
                               za: ZarrSource.ZarrArray): Array[Double] =
    ZarrSource.readAllWith(za, key => {
      val k = s"$name/${key.mkString(za.separator)}"
      if (refs.contains(k)) Some(fetch(refs(k))) else None
    })

  // ------------------------------------------------------------- scanners

  private[sources] def jstr(s: String): String = mapper.writeValueAsString(s)

  /** CF mask-and-scale attrs as a `.zattrs` JSON suffix (",k:v,..." or
    * empty): scale_factor/add_offset plus the fill sentinel
    * (_FillValue, else missing_value), converted through the _Unsigned
    * span like the direct reader's toU. NaN fills are dropped — raw NaN
    * already decodes to NaN, and `"NaN"` is not valid JSON.
    */
  /** The `.zarray` fill seeds UNALLOCATED chunks. `_Unsigned` moves the
    * `.zattrs` `_FillValue` into unsigned space ([[cfZattrsSuffix]]), so
    * the seed must move through the same conversion — otherwise
    * missing-chunk cells of packed variables dodge the fill mask and
    * decode as scaled sentinel garbage instead of NaN.
    */
  private[graft] def zarrFillJson(fill: Option[Double], unsigned: Boolean,
                                  span: Double): String = fill match {
    case Some(f) if f.isNaN => "\"NaN\""
    case Some(f) if unsigned && f < 0 => (f + span).toString
    case Some(f) => f.toString
    case None => "null"
  }

  private def cfZattrsSuffix(attrs: Map[String, String], unsigned: Boolean,
                             span: Double): String = {
    def num(k: String): Option[Double] =
      attrs.get(k).flatMap(s => scala.util.Try(s.trim.toDouble).toOption)
    val fill = num("_FillValue").orElse(num("missing_value"))
      .map(f => if (unsigned && f < 0) f + span else f)
      .filter(f => !f.isNaN && !f.isInfinite)
    (num("scale_factor").map(v => s""","scale_factor":$v""") ++
      num("add_offset").map(v => s""","add_offset":$v""") ++
      fill.map(v => s""","_FillValue":$v""")).mkString
  }

  /** Index an existing Zarr v2 group into a refs document: metadata is
    * inlined, every chunk file becomes a whole-file `[url, 0, size]` ref.
    * No payload bytes are read or copied.
    */
  def scanZarr(groupDir: String,
               bs: ByteStore = ByteStore.current): String = {
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    def inlineIf(key: String, p: String): Unit =
      bs.readIfExists(p).foreach(b => out(key) = jstr(new String(b, "UTF-8")))
    inlineIf(".zgroup", s"$groupDir/.zgroup")
    inlineIf(".zattrs", s"$groupDir/.zattrs")
    val names = bs.list(groupDir).collect {
      case (n, true) if bs.exists(s"$groupDir/$n/.zarray") => n
    }.sorted
    require(names.nonEmpty, s"$groupDir: no zarr arrays to index")
    names.foreach { name =>
      val ad = s"$groupDir/$name"
      inlineIf(s"$name/.zarray", s"$ad/.zarray")
      inlineIf(s"$name/.zattrs", s"$ad/.zattrs")
      // chunk files: dotted names at the top level ("0.1"), or nested
      // paths when the store uses the "/" dimension_separator ("0/1") —
      // walkFiles covers both layouts, local and object-store
      bs.walkFilesSized(ad)
        .filter(_._1.matches("[0-9]+([./][0-9]+)*"))
        .sortBy(_._1)
        .foreach { case (rel, size) =>
          out(s"$name/$rel") =
            s"""[${jstr(urlOf(s"$ad/$rel"))}, 0, $size]"""
        }
    }
    refsDoc(out)
  }

  /** Index a NetCDF-3 classic file into a refs document — kerchunk's
    * netCDF3 scanner re-expressed against [[NetcdfSource]]'s header parse:
    * a fixed variable is ONE chunk ref covering its contiguous bytes; a
    * record variable gets one ref PER RECORD (chunks = 1 × rest), each at
    * `begin + r * recSize`. Only the header is read. NetCDF-3 is
    * big-endian, so dtypes are emitted as `>f8` etc. and decoded by
    * [[ZarrSource.decodeChunk]]'s endian-aware path.
    */
  def scanNetcdf(path: String,
                 maxFixedChunkBytes: Long = MaxFixedChunkBytes,
                 bs: ByteStore = ByteStore.current): String = {
    val nc = NetcdfSource.readHeader(path, bs = bs)
    val lay = nc.layout.getOrElse(throw new IllegalStateException(
      s"$path: parse produced no layout"))
    val url = urlOf(path)
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    out(".zgroup") = jstr("""{"zarr_format":2}""")
    val sizeOf = Seq(0, 1, 1, 2, 4, 4, 8)
    val dtypeOf = Seq("", ">i1", "|u1", ">i2", ">i4", ">f4", ">f8")
    val attrsOf = nc.vars.map(v => v.name -> v.attrs).toMap
    lay.vars.filter(_.dims.nonEmpty).foreach { v =>
      val shape = v.dims.map(_.size)
      val elemSize = sizeOf(v.ncType)
      val total = shape.map(_.toLong).product * elemSize
      // a large CONTIGUOUS fixed variable also splits along its first
      // dimension (one ref per slice) — keeps the one-chunk-per-task scale
      // story and the 2 GiB task buffer bound that record variables get
      val splitFixed = !v.isRec && total > maxFixedChunkBytes && shape.head > 1
      val chunks = if (v.isRec || splitFixed) 1 +: shape.drop(1) else shape
      // CF decode parity with the direct reader: _Unsigned flips the
      // emitted integer dtype (the Zarr path then reads the same unsigned
      // values maskAndScale's toU produces), and scale/offset/fill travel
      // in .zattrs so refs reads decode to PHYSICAL values — without this
      // a packed granule reads raw through kerchunk and decoded directly
      val attrs = attrsOf.getOrElse(v.name, Map.empty)
      val unsigned = attrs.get("_Unsigned").exists(_.trim.equalsIgnoreCase("true"))
      val span = math.pow(2.0, 8.0 * elemSize)
      val dtype0 = dtypeOf(v.ncType)
      val dtype = if (unsigned) dtype0.replace("i", "u") else dtype0
      val zarray =
        s"""{"zarr_format":2,"shape":[${shape.mkString(",")}],""" +
          s""""chunks":[${chunks.mkString(",")}],""" +
          s""""dtype":"$dtype","compressor":null,""" +
          s""""fill_value":null,"filters":null,"order":"C"}"""
      out(s"${v.name}/.zarray") = jstr(zarray)
      out(s"${v.name}/.zattrs") = jstr(
        s"""{"_ARRAY_DIMENSIONS":[${v.dims.map(d => jstr(d.name)).mkString(",")}]""" +
          cfZattrsSuffix(attrs, unsigned, span) + "}")
      val zeros = shape.drop(1).map(_ => "0")
      val slice = shape.drop(1).map(_.toLong).product * elemSize
      if (v.isRec) {
        (0 until lay.numRecs).foreach { r =>
          val key = (r.toString +: zeros).mkString(".")
          out(s"${v.name}/$key") =
            s"""[${jstr(url)}, ${v.begin + r * lay.recSize}, $slice]"""
        }
      } else if (splitFixed) {
        (0 until shape.head).foreach { d0 =>
          val key = (d0.toString +: zeros).mkString(".")
          out(s"${v.name}/$key") =
            s"""[${jstr(url)}, ${v.begin + d0 * slice}, $slice]"""
        }
      } else {
        val key = shape.map(_ => "0").mkString(".")
        out(s"${v.name}/$key") = s"""[${jstr(url)}, ${v.begin}, $total]"""
      }
    }
    refsDoc(out)
  }

  /** Index a NetCDF-4/HDF5 granule into a refs document — kerchunk's
    * SingleHdf5ToZarr re-expressed against [[Hdf5Source.scan]]: every
    * stored HDF5 chunk becomes one byte-range ref, with the netCDF-4
    * filter stack translated to Zarr codecs that decode the SAME bytes —
    * deflate is a zlib stream (→ `{"id":"zlib"}` compressor) and the HDF5
    * shuffle filter is numcodecs' shuffle (→ `{"id":"shuffle"}` filter,
    * handled by [[ZarrSource.decodeChunk]]). HDF5 and Zarr both store
    * edge chunks full-size, so the grids map 1:1. Contiguous datasets
    * (the coordinate variables) become one raw ref each. No payload byte
    * is read or copied; fletcher32-checksummed chunks are rejected loudly
    * (the 4-byte tail is not expressible as a Zarr codec).
    */
  def scanHdf5(path: String, bs: ByteStore = ByteStore.current): String = {
    val bytes = bs.read(path)
    val url = urlOf(path)
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    out(".zgroup") = jstr("""{"zarr_format":2}""")
    Hdf5Source.scan(bytes).foreach { v =>
      require(!v.fletcher, s"$path/${v.name}: fletcher32 chunks cannot be " +
        "kerchunk-indexed (checksum tail is not a Zarr codec); re-write without it")
      val comp = if (v.deflate) """{"id":"zlib","level":1}""" else "null"
      val filt = if (v.shuffleElem > 1)
        s"""[{"id":"shuffle","elementsize":${v.shuffleElem}}]""" else "null"
      // _Unsigned (netCDF-3→4 conversions carry it on signed types) flips
      // the emitted dtype; scale/offset/fill ride in .zattrs so refs reads
      // decode packed values like the direct reader
      val unsigned = v.cfAttrs.get("_Unsigned")
        .exists(_.trim.equalsIgnoreCase("true"))
      val elemSize = v.zarrDtype.drop(2).toInt
      val span = math.pow(2.0, 8.0 * elemSize)
      val fill = zarrFillJson(v.fill, unsigned, span)
      val dtype =
        if (unsigned) v.zarrDtype.replace("i", "u") else v.zarrDtype
      val zarray =
        s"""{"zarr_format":2,"shape":[${v.shape.mkString(",")}],""" +
          s""""chunks":[${v.chunkDims.mkString(",")}],""" +
          s""""dtype":"$dtype","compressor":$comp,""" +
          s""""fill_value":$fill,"filters":$filt,"order":"C"}"""
      out(s"${v.name}/.zarray") = jstr(zarray)
      out(s"${v.name}/.zattrs") = jstr(
        s"""{"_ARRAY_DIMENSIONS":[${v.dims.map(jstr).mkString(",")}]""" +
          cfZattrsSuffix(v.cfAttrs, unsigned, span) + "}")
      v.contiguous.foreach { case (addr, size) =>
        val key = v.shape.map(_ => "0").mkString(".")
        out(s"${v.name}/$key") = s"""[${jstr(url)}, $addr, $size]"""
      }
      v.chunks.foreach { c =>
        out(s"${v.name}/${c.key.mkString(".")}") =
          s"""[${jstr(url)}, ${c.addr}, ${c.size}]"""
      }
    }
    refsDoc(out)
  }

  /** Index a GeoTIFF into a refs document — kerchunk's TIFF scanner
    * re-expressed: every strip/tile becomes one byte-range ref. The TIFF
    * tile grid maps 1:1 onto the Zarr chunk grid — chunks are
    * (th, tw) for one band or (th, tw, nBands) for chunky-interleaved
    * multi-band (C order IS the interleaved layout), and BOTH formats pad
    * edge chunks/tiles to full size — and TIFF Deflate streams are zlib
    * streams, so chunks decode through the standard Zarr path without
    * re-encoding a byte. Scope: compression none or Deflate (LZW is not
    * a Zarr codec), Predictor 1, and striped files only when the strip
    * height divides the image height (a short final strip would violate
    * Zarr's full-chunk rule). Coordinate arrays come inline from the
    * affine georeferencing; only the header is read... the raster data is
    * never touched.
    */
  def scanGeoTiff(path: String, headerPrefixBytes: Int = 16 * 1024 * 1024,
                  bs: ByteStore = ByteStore.current): String = {
    // read only a bounded prefix: the header, IFD and tag-value arrays of
    // a COG live at the front of the file by design (that IS the
    // cloud-optimized layout); the raster payload is never loaded. A
    // pathological file whose metadata points past the prefix fails with
    // a clear message instead of reading garbage.
    val bytes =
      bs.readRange(path, 0, math.min(bs.size(path), headerPrefixBytes.toLong))
    val (tags, order) =
      try GeoTiffSource.readFirstIfdTags(bytes)
      catch {
        case _: IndexOutOfBoundsException | _: java.nio.BufferUnderflowException =>
          throw new IllegalArgumentException(
            s"$path: TIFF metadata extends beyond the ${headerPrefixBytes}-byte " +
              "header prefix (not a front-loaded/COG layout; raise headerPrefixBytes)")
      }
    def one(tag: Int, dflt: Option[Double] = None): Double =
      try GeoTiffSource.tagOne(tags, tag, dflt)
      catch { case e: IllegalArgumentException =>
        throw new IllegalArgumentException(s"$path: ${e.getMessage}")
      }
    def vec(tag: Int): Array[Double] = tags.getOrElse(tag,
      throw new IllegalArgumentException(s"$path: missing required TIFF tag $tag"))
    val width = one(256).toInt
    val height = one(257).toInt
    val bits = one(258, Some(1.0)).toInt
    val compression = one(259, Some(1.0)).toInt
    val nb = one(277, Some(1.0)).toInt
    val sampleFormat = one(339, Some(1.0)).toInt
    require(one(284, Some(1.0)).toInt == 1,
      s"$path: planar (band-sequential) configuration has no chunky-C-order zarr mapping")
    require(tags.get(258).forall(_.forall(_ == bits)),
      s"$path: per-band BitsPerSample values differ")
    require(tags.get(339).forall(_.forall(_ == sampleFormat)),
      s"$path: per-band SampleFormat values differ")
    require(compression == 1 || compression == 8 || compression == 32946,
      s"$path: compression $compression is not a zarr codec (none/deflate only)")
    require(one(317, Some(1.0)).toInt == 1,
      s"$path: predictor is not expressible as a zarr codec")
    require(bits % 8 == 0, s"$path: $bits-bit samples")
    val kind = sampleFormat match {
      case 1 => "u"
      case 2 => "i"
      case 3 => "f"
      case f => throw new IllegalArgumentException(s"$path: sample format $f")
    }
    val dtype =
      (if (order == java.nio.ByteOrder.LITTLE_ENDIAN) "<" else ">") +
        kind + (bits / 8)
    val (chunkH, chunkW, offs, cnts) =
      if (tags.contains(322)) {
        (one(323).toInt, one(322).toInt,
          vec(324).map(_.toLong), vec(325).map(_.toLong))
      } else {
        val rows = math.min(one(278, Some(height.toDouble)).toInt, height)
        require(vec(273).length == 1 || height % rows == 0,
          s"$path: $rows-row strips do not divide height $height " +
            "(short final strip is not a full zarr chunk)")
        (rows, width, vec(273).map(_.toLong), vec(279).map(_.toLong))
      }
    val (sx, sy, originX, originY) = GeoTiffSource.georefFrom(tags)
    val dims = if (nb == 1) Seq("y", "x") else Seq("y", "x", "band")
    val shape = if (nb == 1) Seq(height, width) else Seq(height, width, nb)
    val chunks = if (nb == 1) Seq(chunkH, chunkW) else Seq(chunkH, chunkW, nb)
    val comp = if (compression == 1) "null" else """{"id":"zlib"}"""
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    out(".zgroup") = jstr("""{"zarr_format":2}""")
    def coordArray(name: String, values: Array[Double]): Unit = {
      out(s"$name/.zarray") = jstr(
        s"""{"zarr_format":2,"shape":[${values.length}],""" +
          s""""chunks":[${values.length}],"dtype":"<f8","compressor":null,""" +
          """"fill_value":null,"filters":null,"order":"C"}""")
      out(s"$name/.zattrs") = jstr(s"""{"_ARRAY_DIMENSIONS":[${jstr(name)}]}""")
      val cb = java.nio.ByteBuffer.allocate(values.length * 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      values.foreach(cb.putDouble)
      out(s"$name/0") = jstr("base64:" +
        java.util.Base64.getEncoder.encodeToString(cb.array()))
    }
    coordArray("y", Array.tabulate(height)(j => originY - (j + 0.5) * sy))
    coordArray("x", Array.tabulate(width)(i => originX + (i + 0.5) * sx))
    if (nb > 1) coordArray("band", Array.tabulate(nb)(_ + 1.0))
    out("v/.zarray") = jstr(
      s"""{"zarr_format":2,"shape":[${shape.mkString(",")}],""" +
        s""""chunks":[${chunks.mkString(",")}],"dtype":"$dtype",""" +
        s""""compressor":$comp,"fill_value":null,"filters":null,"order":"C"}""")
    // GDAL_NODATA → CF _FillValue: the kerchunk read then masks the
    // sentinel through the standard Zarr CF-decode path, matching the
    // direct reader's masked read
    val ndAttr = GeoTiffSource.nodataFrom(tags).filterNot(_.isNaN)
      .map(v => s""","_FillValue":$v""").getOrElse("")
    out("v/.zattrs") = jstr(
      s"""{"_ARRAY_DIMENSIONS":[${dims.map(jstr).mkString(",")}]$ndAttr}""")
    val url = urlOf(path)
    val across = (width + chunkW - 1) / chunkW
    offs.zip(cnts).zipWithIndex.foreach { case ((o, c), t) =>
      val key = Seq((t / across).toString, (t % across).toString) ++
        (if (nb > 1) Seq("0") else Nil)
      out(s"v/${key.mkString(".")}") = s"""[${jstr(url)}, $o, $c]"""
    }
    refsDoc(out)
  }

  private[sources] def refsDoc(entries: scala.collection.Map[String, String]): String =
    entries.map { case (k, v) => s"${jstr(k)}: $v" }
      .mkString("{\"version\": 1, \"refs\": {", ", ", "}}")

  /** Re-emit a parsed ref as reference-document JSON. Metadata keys are
    * inline UTF-8 JSON text; inline chunk payloads re-encode as base64
    * (lossless both ways); ranges stay `[url, offset, length]`.
    */
  private[sources] def refValue(r: Ref, isMeta: Boolean): String =
    if (r.isInline) {
      if (isMeta) jstr(new String(r.inline, "UTF-8"))
      else jstr("base64:" +
        java.util.Base64.getEncoder.encodeToString(r.inline))
    } else if (r.length >= 0) s"""[${jstr(r.url)}, ${r.offset}, ${r.length}]"""
    else if (r.offset > 0) s"""[${jstr(r.url)}, ${r.offset}]""" // offset-to-EOF
    else s"""[${jstr(r.url)}]"""

  /** Index a JPEG-2000 granule into a refs document: tiles map 1:1 to zarr
    * chunks (the store/ref analog of [[scanGeoTiff]] for the remaining
    * raster format). Bounded reads only — the container boxes + codestream
    * main header come from a front-of-file prefix, then tile-part offsets
    * are discovered by hopping SOT→SOT via each tile-part's own Psot
    * length field (a 12-byte read per tile, never the packet payload).
    * Each chunk ref is `[url, sotOffset, psot]`; the `graft_jp2` codec
    * (which carries the detached main header) decodes a tile-part
    * standalone on whatever task fetches it.
    *
    * Scope: single-component codestreams with zero grid/tile offsets — the
    * satellite-band shape (one .jp2 per band); multi-component imagery
    * opens through [[graft.sources.jp2.Jp2Source.readRaster]] instead.
    */
  def scanJp2(path: String, headerPrefixBytes: Int = 1 << 20,
              bs: ByteStore = ByteStore.current): String = {
    {
      val fileSize = bs.size(path)
      def readAt(off: Long, n: Int): Array[Byte] =
        bs.readRange(path, off, math.min(n.toLong, fileSize - off))
      val head = readAt(0, math.min(fileSize, headerPrefixBytes.toLong).toInt)
      val (csOff, csLen) =
        graft.sources.jp2.Jp2Source.codestreamSpan(head, fileSize)
      val csEnd = csOff + csLen
      // main header = SOC .. first SOT: walk marker segments in the prefix
      val mh = readAt(csOff, math.min(csLen, headerPrefixBytes.toLong).toInt)
      require((mh(0) & 0xff) == 0xff && (mh(1) & 0xff) == 0x4f,
        s"$path: codestream does not start with SOC")
      var mo = 2
      def u16(b: Array[Byte], o: Int) = ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
      while (u16(mh, mo) != 0xff90) {
        mo += 2 + u16(mh, mo + 2)
        require(mo + 4 <= mh.length,
          s"$path: main header extends beyond the $headerPrefixBytes-byte " +
            "prefix (raise headerPrefixBytes)")
      }
      val mainHeader = java.util.Arrays.copyOf(mh, mo)
      // siz/cod/qcd validation through the standard parser (zero tiles)
      val cd = graft.sources.jp2.Jp2Codestream.parse(
        mainHeader ++ Array(0xff.toByte, 0xd9.toByte))
      val siz = cd.siz
      require(siz.comps.length == 1,
        s"$path: ${siz.comps.length} components (single-component only)")
      require(siz.xosiz == 0 && siz.yosiz == 0 && siz.xto == 0 && siz.yto == 0,
        s"$path: nonzero image/tile grid offsets have no aligned zarr chunk grid")
      val ntx = siz.ntx
      // hop SOT -> SOT: record [url, offset, psot] per tile
      val url = urlOf(path)
      val out = scala.collection.mutable.LinkedHashMap[String, String]()
      out(".zgroup") = jstr("""{"zarr_format":2}""")
      def coordArray(name: String, values: Array[Double]): Unit = {
        out(s"$name/.zarray") = jstr(
          s"""{"zarr_format":2,"shape":[${values.length}],""" +
            s""""chunks":[${values.length}],"dtype":"<f8","compressor":null,""" +
            """"fill_value":null,"filters":null,"order":"C"}""")
        out(s"$name/.zattrs") = jstr(s"""{"_ARRAY_DIMENSIONS":[${jstr(name)}]}""")
        val cb = java.nio.ByteBuffer.allocate(values.length * 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        values.foreach(cb.putDouble)
        out(s"$name/0") = jstr("base64:" +
          java.util.Base64.getEncoder.encodeToString(cb.array()))
      }
      coordArray("y", Array.tabulate(siz.ysiz)(_ + 0.5))
      coordArray("x", Array.tabulate(siz.xsiz)(_ + 0.5))
      val hdrB64 = java.util.Base64.getEncoder.encodeToString(mainHeader)
      out("v/.zarray") = jstr(
        s"""{"zarr_format":2,"shape":[${siz.ysiz},${siz.xsiz}],""" +
          s""""chunks":[${siz.yt},${siz.xt}],"dtype":">i4",""" +
          s""""compressor":{"id":"graft_jp2","header":${jstr(hdrB64)}},""" +
          """"fill_value":0,"filters":null,"order":"C"}""")
      out("v/.zattrs") = jstr("""{"_ARRAY_DIMENSIONS":["y","x"]}""")
      var o = csOff + mo
      while (o < csEnd - 2 && {
        val m = readAt(o, 2); ((m(0) & 0xff) << 8 | (m(1) & 0xff)) == 0xff90
      }) {
        val sot = readAt(o, 12)
        val isot = u16(sot, 4)
        val psot0 = ((sot(6) & 0xffL) << 24) | ((sot(7) & 0xffL) << 16) |
          ((sot(8) & 0xffL) << 8) | (sot(9) & 0xffL)
        val psot = if (psot0 == 0) csEnd - 2 - o else psot0
        out(s"v/${isot / ntx}.${isot % ntx}") = s"""[${jstr(url)}, $o, $psot]"""
        o += psot
      }
      refsDoc(out)
    }
  }

  /** Scan MANY granules as ONE Spark job — an executor task per granule,
    * the archive-ingest shape: with ~10⁵ granules behind a 100 TB store,
    * a driver-side scan loop never finishes, while this fleet scan is
    * embarrassingly parallel and the driver only collects the
    * metadata-sized refs documents (returned in input order, ready for
    * [[combineRefs]]). Each task sniffs its own granule: leading `CDF`
    * magic → [[scanNetcdf]] (bounded front-of-file header read),
    * `\\x89HDF` → [[scanHdf5]], TIFF `II*`/`MM*` → [[scanGeoTiff]]
    * (bounded header prefix), a directory with Zarr metadata →
    * [[scanZarr]].
    */
  def scanGranules(spark: SparkSession, paths: Seq[String]): Seq[String] = {
    require(paths.nonEmpty, "scanGranules: no input paths (empty glob?)")
    // capture the driver's ByteStore VALUE into the task closure (the
    // executor-side `current` would be empty on a real cluster), so the
    // fleet scan reads local paths AND object-store URLs alike
    val bs = ByteStore.current
    spark.sparkContext
      .parallelize(paths.zipWithIndex, paths.length)
      .map { case (p, i) => (i, scanAuto(p, bs)) }
      .collect()
      .sortBy(_._1)
      .map(_._2)
      .toSeq
  }

  /** Granule URL recorded into a refs document: scheme'd paths verbatim
    * (the fetch path routes them through [[ByteStore]] ranged reads),
    * local paths as file: URIs. */
  private def urlOf(path: String): String =
    if (path.indexOf("://") > 0 || path.startsWith("file:")) path
    else new java.io.File(path).toURI.toString

  private def isLocalPath(path: String): Boolean = ByteStore.isLocal(path)

  /** Dispatch one granule to the right scanner by its own magic bytes
    * (an 8-byte read — never the payload). All IO goes through `bs`, so
    * granules may live on an object store (ranged GETs).
    */
  def scanAuto(path: String, bs: ByteStore = ByteStore.current): String = {
    scanCount.incrementAndGet() // header-IO audit (see ensureArchiveIndex)
    if (isLocalPath(path) && new java.io.File(path).isDirectory)
      return scanZarr(path, bs)
    // remote: try the 8-byte magic read FIRST (granule files are the
    // common case — probing zarr markers up front would cost three
    // always-missing HEADs per granule across a 10^5-granule fleet scan);
    // only a failed/empty read falls back to the zarr-group-prefix probe
    val magic =
      try {
        val m = bs.readRange(path, 0, 8)
        require(m.length == 8, s"$path: shorter than any granule magic")
        m
      } catch {
        case e: Exception =>
          if (!isLocalPath(path) && (bs.exists(s"$path/.zgroup") ||
              bs.exists(s"$path/.zmetadata") || bs.exists(s"$path/zarr.json")))
            return scanZarr(path, bs)
          throw e
      }
    val m = magic.map(_ & 0xff)
    if (m.startsWith(Seq('C'.toInt, 'D'.toInt, 'F'.toInt))) scanNetcdf(path, bs = bs)
    else if (m.startsWith(Seq(0x89, 'H'.toInt, 'D'.toInt, 'F'.toInt))) scanHdf5(path, bs)
    else if (m.startsWith(Seq('I'.toInt, 'I'.toInt, 42, 0)) ||
             m.startsWith(Seq('M'.toInt, 'M'.toInt, 0, 42))) scanGeoTiff(path, bs = bs)
    else if (m.startsWith(Seq(0xff, 0x4f, 0xff, 0x51)) || // raw codestream
             // JP2 signature box: 00 00 00 0C 'jP  '
             m.startsWith(Seq(0, 0, 0, 0x0c, 'j'.toInt, 'P'.toInt, 0x20, 0x20)))
      scanJp2(path, bs = bs)
    else throw new IllegalArgumentException(
      s"$path: unrecognized granule magic ${magic.mkString(",")}")
  }

  /** MultiZarrToZarr-style combine: N single-granule reference documents
    * with IDENTICAL per-variable layouts → one virtual dataset with a new
    * leading `concatDim` (the kerchunk archive workflow — a year of daily
    * NetCDF granules becomes one 3-D cube without touching a payload
    * byte). Granule g's data chunk `v/k1.k2` becomes `v/g.k1.k2`; shared
    * 1-D coordinates are taken from the first granule; the new dimension
    * gets an inline float64 coordinate array from `coords`.
    */
  def combineRefs(docs: Seq[String], concatDim: String,
                  coords: Array[Double]): String = {
    require(docs.nonEmpty, "no documents to combine")
    require(docs.length == coords.length,
      s"${docs.length} granules but ${coords.length} $concatDim coordinates")
    val refsN = docs.map(d => parseJson(mapper.readTree(d)))
    val first = refsN.head
    // array-SET equality across granules (same test as the parquet path's
    // validateGranuleMetas): a granule with EXTRA arrays must reject, not
    // silently drop them — accept/reject cannot depend on index format
    refsN.zipWithIndex.drop(1).foreach { case (r, g) =>
      require(listArrays(r) == listArrays(first),
        s"granule $g: array set ${listArrays(r).mkString(",")} differs " +
          s"from granule 0 (${listArrays(first).mkString(",")})")
    }
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    out(".zgroup") = jstr("""{"zarr_format":2}""")
    // the new leading coordinate, inlined (driver-sized, like any 1-D coord)
    val cbuf = java.nio.ByteBuffer.allocate(coords.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    coords.foreach(cbuf.putDouble)
    out(s"$concatDim/.zarray") = jstr(
      s"""{"zarr_format":2,"shape":[${coords.length}],""" +
        s""""chunks":[${coords.length}],"dtype":"<f8","compressor":null,""" +
        """"fill_value":null,"filters":null,"order":"C"}""")
    out(s"$concatDim/.zattrs") = jstr(s"""{"_ARRAY_DIMENSIONS":[${jstr(concatDim)}]}""")
    out(s"$concatDim/0") = jstr("base64:" +
      java.util.Base64.getEncoder.encodeToString(cbuf.array()))
    def chunkKeys(refs: Refs, name: String): Seq[String] =
      refs.entries.keys.filter(k => k.startsWith(s"$name/") &&
        !k.endsWith("/.zarray") && !k.endsWith("/.zattrs")).toSeq.sorted
    listArrays(first).foreach { name =>
      require(name != concatDim, s"granules already carry a '$concatDim' array")
      val za = openArray(first, name)
      refsN.drop(1).zipWithIndex.foreach { case (r, g) =>
        val other = openArray(r, name)
        // compare fill values by bit pattern (NaN == NaN here)
        require(other.copy(fillValue = 0) == za.copy(fillValue = 0) &&
          java.lang.Double.doubleToLongBits(other.fillValue) ==
            java.lang.Double.doubleToLongBits(za.fillValue),
          s"granule ${g + 1}: layout of '$name' differs from granule 0")
      }
      if (za.dims == Seq(name)) {
        // shared 1-D coordinate: identical across granules, copy granule 0
        out(s"$name/.zarray") = refValue(first(s"$name/.zarray"), isMeta = true)
        if (first.contains(s"$name/.zattrs"))
          out(s"$name/.zattrs") = refValue(first(s"$name/.zattrs"), isMeta = true)
        chunkKeys(first, name).foreach(k =>
          out(k) = refValue(first(k), isMeta = false))
      } else {
        // data variable: prepend the concat dimension
        val zaNode = first.json(s"$name/.zarray").get
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        def prepend(field: String, v: Int): Unit = {
          val arr = mapper.createArrayNode().add(v)
          zaNode.path(field).elements.asScala.foreach(arr.add)
          zaNode.set(field, arr); ()
        }
        prepend("shape", refsN.length)
        prepend("chunks", 1) // one granule = one chunk along the new dim
        out(s"$name/.zarray") = jstr(mapper.writeValueAsString(zaNode))
        out(s"$name/.zattrs") =
          jstr(attrsWithDims(first, name, concatDim +: za.dims))
        refsN.zipWithIndex.foreach { case (r, g) =>
          chunkKeys(r, name).foreach { k =>
            val chunkPart = k.stripPrefix(s"$name/")
            out(s"$name/$g${za.separator}$chunkPart") =
              refValue(r(k), isMeta = false)
          }
        }
      }
    }
    refsDoc(out)
  }

  // ------------------------------------------------ archive-as-a-table

  /** Sidecar names of the persisted archive index, written beside the
    * granules (reference `store/ref/store.py` — the combined reference
    * set IS the archive's catalog; here it is also persisted and
    * incrementally maintained). With `indexFormat = "parquet"` the
    * data-chunk refs live in [[ParquetRefsName]] as a DISTRIBUTED side
    * table and [[IndexFileName]] holds only the metadata + coordinates —
    * the shape that survives 10^8-ref archives (the driver never holds
    * the chunk refs; a query joins its pruned key set against the table
    * and collects only its own answer's refs). */
  val IndexFileName = "_refs.json"
  val ManifestFileName = "_refs_manifest.json"
  val ParquetRefsName = "_refs.parquet"

  /** Granule-header scans performed (scanAuto calls, executors included
    * under local[n]) — lets specs and the oracle gate audit that
    * re-opening an already-indexed archive does ZERO header IO. */
  val scanCount = new java.util.concurrent.atomic.AtomicLong

  /** The archive's granule files, sorted: regular entries that are not
    * index sidecars (leading `_`) or dotfiles. */
  def listGranules(dir: String): Seq[String] =
    ByteStore.current.list(dir).collect {
      case (name, false) if !name.startsWith(".") && !name.startsWith("_") =>
        name
    }.sorted

  /** Ensure `<dir>/_refs.json` covers exactly the archive's CURRENT
    * granule files; returns the index path. Three steady states:
    *
    *  - manifest matches the listing → reuse the index untouched. A
    *    re-open costs one list + one manifest read — zero granule-header
    *    IO, the `preload`/cached-refs behavior of the reference store.
    *  - new granules appended (every new name sorts after the old ones,
    *    the date-named-granule growth pattern) → fleet-scan ONLY the new
    *    files and stream-merge their refs into the index (one pass over
    *    the old index, no old-granule IO) — the `q_ivf_incremental`
    *    maintenance discipline applied to the archive catalog.
    *  - anything else changed (removed/renamed/inserted granules) → full
    *    fleet rescan + combine.
    *
    * The concat coordinate is the granule ordinal (0..n-1 by sorted file
    * name) — monotone by construction, so a predicate on it elides whole
    * granules through the connector's chunk pruning. */
  def ensureArchiveIndex(spark: SparkSession, dir: String,
                         concatDim: String = "t",
                         indexDir: Option[String] = None,
                         indexFormat: String = "json",
                         fingerprint: Boolean = false): String = {
    require(indexFormat == "json" || indexFormat == "parquet",
      s"indexFormat must be json or parquet, got $indexFormat")
    val bs = ByteStore.current
    // index + manifest live beside the granules by default; a READ-ONLY
    // archive (someone else's bucket, restricted creds) redirects them
    // anywhere writable via `indexDir` (.option("index", dir) on the
    // connectors)
    val sideDir = indexDir.getOrElse(dir)
    val granules = listGranules(dir)
    require(granules.nonEmpty, s"$dir: no granule files to index")
    // byte sizes ride in the manifest so a granule REWRITTEN under the
    // same name (a reprocessing campaign) is detected — its layout and
    // byte ranges changed, so serving the old index would decode garbage;
    // a size change forces the full rescan. A SAME-SIZE in-place rewrite
    // is invisible to sizes alone; `fingerprint = true`
    // (.option("fingerprint", "true")) additionally stores a first+last-KB
    // CRC per granule (two bounded ranged reads — every ByteStore scheme
    // supports them) and forces the rescan when content changed under an
    // unchanged name+size. Off by default: rewrite campaigns that must be
    // tracked byte-exactly at zero per-open read cost should version
    // granule NAMES.
    val sizes = granules.map(n => bs.size(s"$dir/$n"))
    val fps: Seq[Long] =
      if (fingerprint)
        granules.zip(sizes).map { case (n, sz) => granuleFp(s"$dir/$n", sz) }
      else Seq.empty
    val indexPath = s"$sideDir/$IndexFileName"
    val manifestPath = s"$sideDir/$ManifestFileName"
    val old: Option[(String, Seq[String], Seq[Long], String, Seq[Long])] =
      bs.readIfExists(manifestPath).map { bytes =>
        val n = mapper.readTree(bytes)
        (n.path("concatDim").asText,
          (0 until n.path("granules").size())
            .map(i => n.path("granules").get(i).asText),
          (0 until n.path("sizes").size())
            .map(i => n.path("sizes").get(i).asLong),
          Option(n.get("format")).map(_.asText).getOrElse("json"),
          Option(n.get("fps")).map(f =>
            (0 until f.size()).map(i => f.get(i).asLong): Seq[Long])
            .getOrElse(Seq.empty))
      }
    // with fingerprinting on, a manifest without stored fps (or with a
    // mismatching prefix) cannot certify freshness — full rescan
    def fpsOk(oldFps: Seq[Long], upTo: Int): Boolean =
      !fingerprint || (oldFps.length >= upTo && oldFps.take(upTo) == fps.take(upTo))
    def rebuild(): Unit = {
      if (indexFormat == "parquet")
        buildParquetIndex(spark, granules.map(n => s"$dir/$n"),
          concatDim, sideDir)
      else
        bs.write(indexPath, combineRefs(
          scanGranules(spark, granules.map(n => s"$dir/$n")), concatDim,
          Array.tabulate(granules.length)(_.toDouble)).getBytes("UTF-8"))
      writeManifest(manifestPath, concatDim, granules, sizes, indexFormat, fps)
    }
    old match {
      case Some((cd, oldG, oldS, fmt, oldFps)) if cd == concatDim &&
          fmt == indexFormat && oldG == granules && oldS == sizes &&
          fpsOk(oldFps, granules.length) =>
        indexPath // up to date: zero header IO
      case Some((cd, oldG, oldS, fmt, oldFps)) if cd == concatDim &&
          fmt == indexFormat && granules.take(oldG.length) == oldG &&
          sizes.take(oldG.length) == oldS && fpsOk(oldFps, oldG.length) =>
        val fresh = granules.drop(oldG.length)
        // the append paths require(index concat extent == manifest granule
        // count): an interrupted refresh that wrote the index but not the
        // manifest (index is always written FIRST) would otherwise
        // re-append the same granules at shifted ordinals. On that
        // specific desync the incremental path is unusable — recover with
        // a full rebuild, which rewrites both sidecars consistently.
        try {
          if (indexFormat == "parquet")
            appendParquetIndex(spark, fresh.map(n => s"$dir/$n"),
              oldG.length, concatDim, sideDir)
          else {
            // consistency pre-check BEFORE any granule header IO (the
            // parquet path checks inside appendParquetIndex, likewise
            // before its fleet scan)
            val meta = parseSelective(indexPath, kk =>
              kk.substring(kk.lastIndexOf('/') + 1).startsWith(".z"))
            val idxN = openArray(meta, concatDim).shape.head
            require(idxN == oldG.length,
              s"$indexPath: concat extent $idxN != manifest granule " +
                s"count ${oldG.length}")
            appendToIndex(indexPath,
              scanGranules(spark, fresh.map(n => s"$dir/$n")), concatDim,
              expectedOldN = oldG.length)
          }
          writeManifest(manifestPath, concatDim, granules, sizes,
            indexFormat, fps)
        } catch {
          case e: IllegalArgumentException if e.getMessage != null &&
              e.getMessage.contains("!= manifest granule count") =>
            rebuild()
        }
        indexPath
      case _ =>
        rebuild()
        indexPath
    }
  }

  /** The format recorded in an archive's manifest ("json"/"parquet"),
    * or "json" when no manifest exists (pre-format sidecars). */
  def manifestFormat(sideDir: String): String =
    ByteStore.current.readIfExists(s"$sideDir/$ManifestFileName")
      .flatMap(b => Option(mapper.readTree(b).get("format")).map(_.asText))
      .getOrElse("json")

  private def writeManifest(path: String, concatDim: String,
                            granules: Seq[String], sizes: Seq[Long],
                            format: String, fps: Seq[Long] = Seq.empty): Unit =
    ByteStore.current.write(path,
      (s"""{"concatDim": ${jstr(concatDim)}, "format": ${jstr(format)}, """ +
        s""""granules": [${granules.map(jstr).mkString(", ")}], """ +
        s""""sizes": [${sizes.mkString(", ")}]""" +
        (if (fps.nonEmpty) s""", "fps": [${fps.mkString(", ")}]""" else "") +
        "}").getBytes("UTF-8"))

  /** Content fingerprint of one granule: CRC32 over its first and last
    * KB (two bounded ranged reads). Catches the same-size in-place
    * rewrite the size check cannot — headers (superblock, object
    * headers) and trailing data move on any real rewrite. */
  private def granuleFp(path: String, size: Long): Long = {
    val bs = ByteStore.current
    val crc = new java.util.zip.CRC32
    crc.update(bs.readRange(path, 0, math.min(1024L, size)))
    if (size > 1024L)
      crc.update(bs.readRange(path, size - 1024L, 1024L))
    crc.getValue
  }

  /** Merge freshly-scanned granule docs into an existing combined index:
    * ONE streaming pass over the old index (metadata entries rewritten —
    * concat extents +k, coordinate chunk extended — data-chunk refs
    * copied verbatim), then the new granules' chunk refs appended with
    * the next ordinals. Every new granule's layout is validated against
    * the archive's BEFORE any byte is written, so a mismatched granule
    * leaves the index untouched. Old granule headers are never re-read.
    */
  private[sources] def appendToIndex(indexPath: String, newDocs: Seq[String],
                                     concatDim: String,
                                     expectedOldN: Int = -1): Unit = {
    val newRefs = newDocs.map(d => parseJson(mapper.readTree(d)))
    if (newRefs.isEmpty) return
    def isMetaKey(kk: String): Boolean =
      kk.substring(kk.lastIndexOf('/') + 1).startsWith(".z")
    val meta = parseSelective(indexPath, isMetaKey)
    val names = listArrays(meta)
    require(names.contains(concatDim),
      s"$indexPath: no '$concatDim' coordinate in the archive index")
    val oldN = openArray(meta, concatDim).shape.head
    // index/manifest consistency guard (same as appendParquetIndex): an
    // interrupted refresh that wrote the index but not the manifest would
    // otherwise re-append the same granules at shifted ordinals —
    // duplicated chunk refs and a concat coordinate longer than the
    // archive. ensureArchiveIndex recovers by full rebuild on mismatch.
    require(expectedOldN < 0 || oldN == expectedOldN,
      s"$indexPath: concat extent $oldN != manifest granule count $expectedOldN")
    // array-SET equality per granule (validateGranuleMetas parity): a
    // granule with EXTRA arrays rejects instead of silently dropping them
    val expectedSet = names.filterNot(_ == concatDim)
    newRefs.zipWithIndex.foreach { case (r, g) =>
      require(listArrays(r) == expectedSet,
        s"granule $g: array set ${listArrays(r).mkString(",")} differs " +
          s"from the archive index (${expectedSet.mkString(",")})")
    }
    val k = newRefs.length
    val dataVars = names.filter { n =>
      val za = openArray(meta, n)
      za.dims.headOption.contains(concatDim) && za.dims != Seq(n)
    }
    // full validation pass BEFORE mutating anything
    names.foreach {
      case `concatDim` =>
        newRefs.zipWithIndex.foreach { case (r, g) =>
          require(!listArrays(r).contains(concatDim),
            s"granule $g: already carries a '$concatDim' array")
        }
      case n if dataVars.contains(n) =>
        val za = openArray(meta, n)
        val expect = za.copy(shape = za.shape.tail, chunks = za.chunks.tail,
          dims = za.dims.tail)
        newRefs.zipWithIndex.foreach { case (r, g) =>
          val other = openArray(r, n)
          require(other.copy(fillValue = 0) == expect.copy(fillValue = 0) &&
            java.lang.Double.doubleToLongBits(other.fillValue) ==
              java.lang.Double.doubleToLongBits(expect.fillValue),
            s"granule $g: layout of '$n' differs from the archive index")
        }
      case n => // shared coordinate: layout must agree bit for bit, fill
        // value included (values, like combineRefs, stay granule-0's) —
        // the same test combineRefs applies, so accept/reject cannot
        // depend on whether a granule arrived incrementally or in a rebuild
        val za = openArray(meta, n)
        newRefs.zipWithIndex.foreach { case (r, g) =>
          val other = openArray(r, n)
          require(other.copy(fillValue = 0) == za.copy(fillValue = 0) &&
            java.lang.Double.doubleToLongBits(other.fillValue) ==
              java.lang.Double.doubleToLongBits(za.fillValue),
            s"granule $g: coordinate '$n' layout differs from the archive")
        }
    }
    def bumpLead(node: JsonNode, field: String, by: Int,
                 replaceWhole: Option[Int] = None): Unit = {
      val obj = node.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      val arr = mapper.createArrayNode()
      replaceWhole match {
        case Some(v) => arr.add(v)
        case None =>
          arr.add(obj.path(field).get(0).asInt + by)
          import scala.jdk.CollectionConverters._
          obj.path(field).elements.asScala.drop(1).foreach(arr.add)
      }
      obj.set(field, arr); ()
    }
    val sb = new java.lang.StringBuilder(1 << 16)
    sb.append("{\"version\": 1, \"refs\": {")
    var first = true
    def put(key: String, value: String): Unit = {
      if (!first) sb.append(", ")
      first = false
      sb.append(jstr(key)).append(": ").append(value)
    }
    streamRefs(indexPath, _ => true) { (key, ref) =>
      val name = key.substring(0, math.max(key.indexOf('/'), 0))
      if (key == s"$concatDim/.zarray") {
        val node = mapper.readTree(ref.inline)
        bumpLead(node, "shape", k, replaceWhole = Some(oldN + k))
        bumpLead(node, "chunks", k, replaceWhole = Some(oldN + k))
        put(key, jstr(mapper.writeValueAsString(node)))
      } else if (key == s"$concatDim/0") {
        require(ref.isInline,
          s"$indexPath: '$key' must be an inline coordinate chunk")
        val buf = java.nio.ByteBuffer.allocate(ref.inline.length + 8 * k)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        buf.put(ref.inline)
        (0 until k).foreach(i => buf.putDouble((oldN + i).toDouble))
        put(key, jstr("base64:" +
          java.util.Base64.getEncoder.encodeToString(buf.array())))
      } else if (key.endsWith("/.zarray") && dataVars.contains(name)) {
        val node = mapper.readTree(ref.inline)
        bumpLead(node, "shape", k)
        put(key, jstr(mapper.writeValueAsString(node)))
      } else {
        put(key, refValue(ref, isMetaKey(key)))
      }
    }
    newRefs.zipWithIndex.foreach { case (r, i) =>
      val g = oldN + i
      dataVars.foreach { v =>
        val sep = openArray(meta, v).separator
        r.entries.keys.filter(kk => kk.startsWith(s"$v/") && !isMetaKey(kk))
          .toSeq.sorted.foreach { kk =>
            put(s"$v/$g$sep${kk.stripPrefix(s"$v/")}",
              refValue(r(kk), isMeta = false))
          }
      }
    }
    sb.append("}}")
    ByteStore.current.write(indexPath, sb.toString.getBytes("UTF-8"))
  }

  // ------------------------------------- parquet (distributed) index

  private val RefRowSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("g",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("kind",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("key",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("url",
      org.apache.spark.sql.types.StringType, nullable = true),
    org.apache.spark.sql.types.StructField("offset",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("length",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("inline",
      org.apache.spark.sql.types.BinaryType, nullable = true)))

  /** Fleet-scan granules into typed ref ROWS instead of collected docs —
    * the distributed-index primitive: each task scans its own granule's
    * header and emits (granuleIdx, kind, key, ref...) rows, with data-
    * chunk keys ALREADY in combined form (`v/g.k1.k2`). kind 0 = metadata
    * (.z*), 1 = coordinate chunk, 2 = data chunk. Nothing granule-sized
    * ever reaches the driver. */
  private def scanGranuleRows(spark: SparkSession, paths: Seq[String],
                              startIdx: Int): org.apache.spark.sql.DataFrame = {
    val bsv = ByteStore.current
    val rdd = spark.sparkContext
      .parallelize(paths.zipWithIndex, paths.length)
      .flatMap { case (p, i) =>
        val g = startIdx + i
        val refs = parseJson(mapper.readTree(scanAuto(p, bsv)))
        val names = listArrays(refs)
        val seps = names.filter(n => openArray(refs, n).dims != Seq(n))
          .map(n => n -> openArray(refs, n).separator).toMap
        refs.entries.iterator.map { case (k, r) =>
          val slash = k.indexOf('/')
          val name = if (slash > 0) k.substring(0, slash) else ""
          val isMeta = k.substring(k.lastIndexOf('/') + 1).startsWith(".z")
          val (kind, key) =
            if (isMeta) (0, k)
            else seps.get(name) match {
              case Some(sep) => (2, s"$name/$g$sep${k.substring(slash + 1)}")
              case None => (1, k)
            }
          org.apache.spark.sql.Row(g, kind, key, r.url, r.offset, r.length,
            r.inline)
        }
      }
    spark.createDataFrame(rdd, RefRowSchema)
  }

  /** Per-granule metadata Refs from collected kind-0/1 rows. */
  private def refsOfRows(rows: Seq[org.apache.spark.sql.Row]): Refs =
    Refs(rows.map { r =>
      r.getString(2) -> Ref(
        if (r.isNullAt(3)) null else r.getString(3),
        r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) null else r.getAs[Array[Byte]](6))
    }.toMap)

  /** The metadata-only combined doc (everything combineRefs emits EXCEPT
    * the data-chunk keys): group doc, index-valued concat coordinate,
    * granule-0 shared coordinates (ranged chunk refs included — they are
    * driver-resolved at open), and each data variable's .zarray/.zattrs
    * with the concat dimension prepended. */
  private def archiveMetaDoc(first: Refs, concatDim: String,
                             n: Int): String = {
    val names = listArrays(first)
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    out(".zgroup") = jstr("""{"zarr_format":2}""")
    val cbuf = java.nio.ByteBuffer.allocate(n * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until n).foreach(i => cbuf.putDouble(i.toDouble))
    out(s"$concatDim/.zarray") = jstr(
      s"""{"zarr_format":2,"shape":[$n],""" +
        s""""chunks":[$n],"dtype":"<f8","compressor":null,""" +
        """"fill_value":null,"filters":null,"order":"C"}""")
    out(s"$concatDim/.zattrs") =
      jstr(s"""{"_ARRAY_DIMENSIONS":[${jstr(concatDim)}]}""")
    out(s"$concatDim/0") = jstr("base64:" +
      java.util.Base64.getEncoder.encodeToString(cbuf.array()))
    names.foreach { name =>
      require(name != concatDim,
        s"granules already carry a '$concatDim' array")
      val za = openArray(first, name)
      if (za.dims == Seq(name)) { // shared 1-D coordinate: copy granule 0
        out(s"$name/.zarray") = refValue(first(s"$name/.zarray"), isMeta = true)
        if (first.contains(s"$name/.zattrs"))
          out(s"$name/.zattrs") = refValue(first(s"$name/.zattrs"), isMeta = true)
        first.entries.keys.filter { k =>
          k.startsWith(s"$name/") &&
            !k.substring(k.lastIndexOf('/') + 1).startsWith(".z")
        }.toSeq.sorted.foreach(k =>
          out(k) = refValue(first(k), isMeta = false))
      } else { // data variable: prepend the concat dimension
        val zaNode = first.json(s"$name/.zarray").get
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        def prepend(field: String, v: Int): Unit = {
          val arr = mapper.createArrayNode().add(v)
          zaNode.path(field).elements.asScala.foreach(arr.add)
          zaNode.set(field, arr); ()
        }
        prepend("shape", n)
        prepend("chunks", 1) // one granule = one chunk along the new dim
        out(s"$name/.zarray") = jstr(mapper.writeValueAsString(zaNode))
        out(s"$name/.zattrs") =
          jstr(attrsWithDims(first, name, concatDim +: za.dims))
      }
    }
    refsDoc(out)
  }

  /** A variable's `.zattrs` with `_ARRAY_DIMENSIONS` set to `dims` and
    * EVERY other attribute preserved — dropping the rest would strip the
    * CF packing attrs (scale_factor/add_offset/_FillValue) and flip a
    * packed archive from physical values back to raw integers. */
  private def attrsWithDims(refs: Refs, name: String,
                            dims: Seq[String]): String = {
    val node = refs.json(s"$name/.zattrs")
      .collect { case o: com.fasterxml.jackson.databind.node.ObjectNode => o }
      .getOrElse(mapper.createObjectNode())
    val arr = mapper.createArrayNode()
    dims.foreach(arr.add)
    node.set[JsonNode]("_ARRAY_DIMENSIONS", arr)
    mapper.writeValueAsString(node)
  }

  /** combineRefs' cross-granule layout validation over collected metadata
    * Refs (array sets, dims/shape/chunks/codec, bit-exact fill values). */
  private def validateGranuleMetas(first: Refs, metas: Seq[(Int, Refs)],
                                   concatDim: String): Unit = {
    val names = listArrays(first)
    metas.foreach { case (g, r) =>
      require(!listArrays(r).contains(concatDim),
        s"granule $g: already carries a '$concatDim' array")
      require(listArrays(r) == names,
        s"granule $g: array set ${listArrays(r).mkString(",")} differs " +
          s"from the archive index (${names.mkString(",")})")
      names.foreach { n =>
        val za = openArray(first, n)
        val other = openArray(r, n)
        require(other.copy(fillValue = 0) == za.copy(fillValue = 0) &&
          java.lang.Double.doubleToLongBits(other.fillValue) ==
            java.lang.Double.doubleToLongBits(za.fillValue),
          s"granule $g: layout of '$n' differs from the archive index")
      }
    }
  }

  /** Full parquet-index build: ONE fleet scan emits combined-form ref
    * rows; data-chunk rows write straight to the parquet side table
    * (executors to object store, never through the driver); only the
    * metadata rows collect for validation and the metadata doc. */
  private def buildParquetIndex(spark: SparkSession, paths: Seq[String],
                                concatDim: String, sideDir: String): Unit = {
    graft.Cuts.withCuts { c =>
      val rows = c.keep(scanGranuleRows(spark, paths, startIdx = 0))
      import org.apache.spark.sql.functions.col
      val collected = rows.filter(col("kind") === 0 ||
        (col("kind") === 1 && col("g") === 0)).collect().toSeq
      val metaRows = collected.filter(_.getInt(1) == 0)
      val coord0 = collected.filter(_.getInt(1) == 1)
      val byG = metaRows.groupBy(_.getInt(0))
      require(byG.contains(0), s"$sideDir: granule 0 produced no metadata")
      val first = refsOfRows(byG(0) ++ coord0)
      validateGranuleMetas(first,
        byG.toSeq.sortBy(_._1).filter(_._1 > 0)
          .map { case (g, rs) => g -> refsOfRows(rs) }, concatDim)
      rows.filter(col("kind") === 2)
        .select("key", "url", "offset", "length", "inline")
        .write.mode("overwrite").parquet(s"$sideDir/$ParquetRefsName")
      ByteStore.current.write(s"$sideDir/$IndexFileName",
        archiveMetaDoc(first, concatDim, paths.length).getBytes("UTF-8"))
    }
  }

  /** Incremental parquet-index append: fleet-scan ONLY the new granules,
    * validate their layouts against the index's recorded grid, append
    * their chunk rows as new parquet part files (old rows untouched,
    * old granules never re-read), then bump the metadata doc's concat
    * extents. Ordered so a validation failure writes nothing, and a
    * metadata-write failure leaves only unreferenced extra rows. */
  private def appendParquetIndex(spark: SparkSession, newPaths: Seq[String],
                                 startIdx: Int, concatDim: String,
                                 sideDir: String): Unit = {
    val indexPath = s"$sideDir/$IndexFileName"
    val current = parseSelective(indexPath, _ => true) // metadata-only: small
    val names = listArrays(current)
    val oldN = openArray(current, concatDim).shape.head
    require(oldN == startIdx,
      s"$indexPath: concat extent $oldN != manifest granule count $startIdx")
    graft.Cuts.withCuts { c =>
      val rows = c.keep(scanGranuleRows(spark, newPaths, startIdx))
      import org.apache.spark.sql.functions.col
      val metaRows = rows.filter(col("kind") === 0).collect().toSeq
      // expected granule layout = the combined grid minus its lead dim;
      // shared coordinates keep their CHUNK refs too (archiveMetaDoc
      // copies them back into the rewritten doc — dropping them here
      // would silently turn the coordinate into all-fill on re-open) and
      // data variables keep their full .zattrs (CF packing included)
      val expected = Refs(names.filterNot(_ == concatDim).flatMap { n =>
        val za = openArray(current, n)
        val node = current.json(s"$n/.zarray").get
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        if (za.dims.headOption.contains(concatDim) && za.dims != Seq(n)) {
          def dropLead(field: String): Unit = {
            val arr = mapper.createArrayNode()
            node.path(field).elements.asScala.drop(1).foreach(arr.add)
            node.set(field, arr); ()
          }
          dropLead("shape"); dropLead("chunks")
          Seq(s"$n/.zarray" -> Ref(null, 0, 0,
            mapper.writeValueAsString(node).getBytes("UTF-8")),
            s"$n/.zattrs" -> Ref(null, 0, 0,
              attrsWithDims(current, n, za.dims.tail).getBytes("UTF-8")))
        } else { // shared coordinate: metadata AND chunk refs verbatim
          current.entries.filter { case (k, _) =>
            k == s"$n/.zarray" || k == s"$n/.zattrs" ||
              (k.startsWith(s"$n/") &&
                !k.substring(k.lastIndexOf('/') + 1).startsWith(".z"))
          }.toSeq
        }
      }.toMap)
      validateGranuleMetas(expected,
        metaRows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
          .map { case (g, rs) => g -> refsOfRows(rs) }, concatDim)
      rows.filter(col("kind") === 2)
        .select("key", "url", "offset", "length", "inline")
        .write.mode("append").parquet(s"$sideDir/$ParquetRefsName")
      ByteStore.current.write(indexPath,
        archiveMetaDoc(expected, concatDim, startIdx + newPaths.length)
          .getBytes("UTF-8"))
    }
  }

  /** Data-chunk ref resolution against the parquet side table: the
    * pruned chunk-key set broadcast-joins the distributed index and the
    * driver collects ONLY the query's own refs — planning memory is the
    * answer's size at any archive size (the parquet-refs evolution of
    * kerchunk, fused with optimizer pruning). */
  final case class ParquetRefLookup(parquetPath: String) extends RefLookup {
    override def bulk(keys: Seq[String]): Map[String, Ref] = {
      if (keys.isEmpty) return Map.empty
      val spark = org.apache.spark.sql.SparkSession.active
      import org.apache.spark.sql.functions.{broadcast, col}
      import spark.implicits._
      spark.read.parquet(parquetPath)
        .join(broadcast(keys.distinct.toDF("k")), col("key") === col("k"))
        .select("key", "url", "offset", "length", "inline")
        .collect()
        .map(r => r.getString(0) -> Ref(
          if (r.isNullAt(1)) null else r.getString(1),
          r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) null else r.getAs[Array[Byte]](4)))
        .toMap
    }
  }
}
