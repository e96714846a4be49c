package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.DataFrame
import java.nio.{ByteBuffer, ByteOrder}
import scala.jdk.CollectionConverters._
import graft.sources.zarr.ChunkStats

/** Zarr v3 chunked-array source/sink (the public Zarr core spec v3 — the
  * format the reference is migrating toward: its pin is `zarr>=2.11,<3`
  * "until we can ensure zarr 3 compatibility", environment.yml:49 /
  * issue #1102). One `zarr.json` document per node (group or array),
  * `chunk_grid`/`chunk_key_encoding`/`codecs` replacing v2's
  * chunks/dimension_separator/compressor+filters, `dimension_names`
  * replacing the `_ARRAY_DIMENSIONS` attribute, and chunk objects under
  * `c/…` with the `default` key encoding (`v2`-style keys also read).
  *
  * Codecs: the mandatory `bytes` array→bytes codec (both endiannesses on
  * read; writes are little-endian float64), `gzip` / `zstd` / `blosc`
  * (shuffle `"shuffle"`/`"noshuffle"`; `"bitshuffle"` rejected by
  * [[BloscCodec]] as in v2) and `crc32c` bytes→bytes codecs, and
  * `sharding_indexed` — the v3 flagship: many inner chunks per stored
  * shard object with an (offset, nbytes) uint64-LE index footer. Array→
  * array codecs (`transpose`) are rejected loudly.
  *
  * Scale story — sharding is the part that matters at 100 TB: a v2 store
  * with 1 MiB chunks needs ~10^8 objects; shards bundle a grid of inner
  * chunks into one object whose INDEX is read once per task, so object
  * count drops by the shard/chunk volume ratio while the inner chunk
  * stays the decode/cache unit. Here the SHARD is the unit of
  * parallelism in both directions ([[ZarrSource.ZarrArray.chunks]] holds
  * the shard shape): the `format("zarr")` scan plans shard objects as
  * its chunks; [[writeCube]] shuffles rows once by shard id and each task
  * encodes its inner chunks + index without the whole array ever
  * materializing.
  */
object ZarrV3Source {
  import ZarrSource.{Blosc, Codec, Crc32c, Gzip, Raw, Shard, V3Chain, ZarrArray, Zlib, ZstdC}

  private val mapper = new ObjectMapper()

  // ------------------------------------------------------------- metadata

  // byte IO dispatches through [[ByteStore]] (local = java.nio fast path,
  // scheme'd = Hadoop FS) — same discipline as the v2 source
  private def readJson(path: String): Option[JsonNode] =
    ByteStore.current.readIfExists(path).map(mapper.readTree)

  /** Map a v3 `data_type` name to the v2-style dtype string the shared
    * decode loop consumes; multi-byte types take the `bytes` codec's
    * endianness prefix.
    */
  private def dtypeFor(dataType: String, bigEndian: Boolean): String = {
    val e = if (bigEndian) ">" else "<"
    dataType match {
      case "bool" => "|b1"
      case "int8" => "|i1"
      case "uint8" => "|u1"
      case "int16" => s"${e}i2"
      case "uint16" => s"${e}u2"
      case "int32" => s"${e}i4"
      case "uint32" => s"${e}u4"
      case "int64" => s"${e}i8"
      case "uint64" => s"${e}u8"
      case "float32" => s"${e}f4"
      case "float64" => s"${e}f8"
      case other => throw new IllegalArgumentException(
        s"v3 data_type '$other' unsupported")
    }
  }

  /** Parse a v3 `codecs` array into (bigEndian from the `bytes` codec,
    * the bytes→bytes steps in encode order). Shared by the top-level
    * chain, a shard's inner chain, and a shard's index chain.
    */
  private def parseSteps(codecs: JsonNode, where: String): (Boolean, Seq[Codec]) = {
    require(codecs.isArray && codecs.size > 0, s"$where: empty codecs list")
    val named = codecs.elements.asScala.toSeq.map { c =>
      (c.path("name").asText, c.path("configuration"))
    }
    val bytesIdx = named.indexWhere(_._1 == "bytes")
    require(bytesIdx == 0, s"$where: the first codec must be 'bytes' " +
      s"(array→array codecs like '${named.head._1}' are unsupported)")
    val bigEndian = named.head._2.path("endian").asText("little") match {
      case "little" => false
      case "big" => true
      case e => throw new IllegalArgumentException(s"$where: endian '$e'")
    }
    val steps = named.drop(1).map {
      case ("gzip", cfg) => Gzip(cfg.path("level").asInt(5))
      case ("zstd", cfg) => ZstdC(cfg.path("level").asInt(1))
      case ("blosc", cfg) =>
        val shuffle = cfg.path("shuffle").asText("noshuffle") match {
          case "noshuffle" => 0
          case "shuffle" => 1
          case "bitshuffle" => 2 // rejected at decode time by BloscCodec
          case s => throw new IllegalArgumentException(s"$where: blosc shuffle '$s'")
        }
        Blosc(cfg.path("cname").asText("zstd"), cfg.path("clevel").asInt(5),
          shuffle, cfg.path("blocksize").asInt(0))
      case ("crc32c", _) => Crc32c
      case (other, _) => throw new IllegalArgumentException(
        s"$where: codec '$other' unsupported (bytes/gzip/zstd/blosc/crc32c/sharding_indexed)")
    }
    (bigEndian, steps)
  }

  /** Parse one array `zarr.json` document into the shared [[ZarrArray]]
    * model (+ CF mask-and-scale attributes, like the v2 parser).
    */
  private[sources] def parseArrayJson(doc: JsonNode, where: String): ZarrArray = {
    require(doc.path("zarr_format").asInt == 3, s"$where: zarr_format != 3")
    require(doc.path("node_type").asText == "array", s"$where: not an array node")
    val shape = doc.path("shape").elements.asScala.map(_.asInt).toSeq
    val grid = doc.path("chunk_grid")
    require(grid.path("name").asText == "regular",
      s"$where: chunk_grid '${grid.path("name").asText}' unsupported")
    val chunks = grid.path("configuration").path("chunk_shape")
      .elements.asScala.map(_.asInt).toSeq
    val keyEnc = doc.path("chunk_key_encoding")
    val (v2Keys, sep) = keyEnc.path("name").asText("default") match {
      case "default" => (false, keyEnc.path("configuration").path("separator").asText("/"))
      case "v2" => (true, keyEnc.path("configuration").path("separator").asText("."))
      case other => throw new IllegalArgumentException(
        s"$where: chunk_key_encoding '$other' unsupported")
    }
    val codecs = doc.path("codecs")
    val sharding = codecs.isArray && codecs.size == 1 &&
      codecs.get(0).path("name").asText == "sharding_indexed"
    val (bigEndian, codec) =
      if (!sharding) {
        val (be, steps) = parseSteps(codecs, where)
        (be, if (steps.isEmpty) Raw else V3Chain(steps))
      } else {
        val cfg = codecs.get(0).path("configuration")
        val inner = cfg.path("chunk_shape").elements.asScala.map(_.asInt).toSeq
        require(inner.length == chunks.length &&
            chunks.zip(inner).forall { case (c, i) => i > 0 && c % i == 0 },
          s"$where: shard shape $chunks not divisible by inner chunk shape $inner")
        val (be, steps) = parseSteps(cfg.path("codecs"), s"$where inner")
        val (idxBe, idxSteps) = parseSteps(cfg.path("index_codecs"), s"$where index")
        require(!idxBe && idxSteps.forall(_ == Crc32c),
          s"$where: index_codecs must be little-endian bytes (+ crc32c)")
        val atEnd = cfg.path("index_location").asText("end") match {
          case "end" => true
          case "start" => false
          case l => throw new IllegalArgumentException(s"$where: index_location '$l'")
        }
        (be, Shard(inner, steps, idxSteps.contains(Crc32c), atEnd))
      }
    val fv = doc.path("fill_value") match {
      case n if n.isNull || n.isMissingNode => Double.NaN
      case n if n.isBoolean => if (n.asBoolean) 1.0 else 0.0
      case n if n.isTextual => n.asText match {
        case "NaN" => Double.NaN
        case "Infinity" => Double.PositiveInfinity
        case "-Infinity" => Double.NegativeInfinity
        case t => throw new IllegalArgumentException(s"$where: fill_value '$t'")
      }
      case n => n.asDouble
    }
    val dims = Option(doc.path("dimension_names")).filter(_.isArray)
      .map(_.elements.asScala.map(_.asText).toSeq)
      .getOrElse(shape.indices.map(i => s"dim_$i"))
    require(dims.length == shape.length, s"$where: dims/shape rank mismatch")
    val attrs = doc.path("attributes")
    def attrNum(key: String, dflt: Double): Double = {
      val n = attrs.path(key)
      if (n.isNumber) n.asDouble else dflt
    }
    val cfFill = Option(attrs.path("_FillValue")).filter(_.isNumber).map(_.asDouble)
    ZarrArray(shape, chunks, dtypeFor(doc.path("data_type").asText, bigEndian),
      fv, codec, dims, sep, shuffleElem = 0,
      cfScale = attrNum("scale_factor", 1.0),
      cfOffset = attrNum("add_offset", 0.0), cfFill = cfFill,
      v3DefaultKeys = !v2Keys)
  }

  /** Consolidated metadata embedded in the GROUP's `zarr.json`
    * (`consolidated_metadata.kind = "inline"` — zarr-python's v3
    * equivalent of `.zmetadata`): one document holding every child node's
    * metadata, so opening N arrays is one GET instead of N.
    */
  private def consolidated(groupDir: String): Option[JsonNode] =
    readJson(s"$groupDir/zarr.json")
      .map(_.path("consolidated_metadata"))
      .filter(cm => !cm.isMissingNode && !cm.isNull)
      .map { cm =>
        require(cm.path("kind").asText("inline") == "inline",
          s"$groupDir: consolidated_metadata kind '${cm.path("kind").asText}'")
        cm.path("metadata")
      }

  /** Parse `<arrayDir>/zarr.json` (from the parent group's consolidated
    * metadata when present).
    */
  def openArray(arrayDir: String): ZarrArray = {
    val (parent, name) = ZarrSource.splitPath(arrayDir)
    val doc = parent.flatMap(consolidated)
      .map(_.path(name)).filter(n => !n.isMissingNode && !n.isNull)
      .orElse(readJson(s"$arrayDir/zarr.json"))
      .getOrElse(throw new IllegalArgumentException(
        s"$arrayDir: no zarr.json (not a Zarr v3 array)"))
    parseArrayJson(doc, arrayDir)
  }

  /** Array names in a v3 group — from the group document's consolidated
    * metadata when present (no directory listing).
    */
  def listArrays(groupDir: String): Seq[String] =
    consolidated(groupDir) match {
      case Some(meta) =>
        meta.fieldNames.asScala
          .filter(n => meta.path(n).path("node_type").asText == "array")
          .toSeq.sorted
      case None =>
        val bs = ByteStore.current
        require(readJson(s"$groupDir/zarr.json")
            .exists(_.path("node_type").asText == "group"),
          s"$groupDir: no group zarr.json (not a Zarr v3 group)")
        bs.list(groupDir)
          .collect { case (nm, true) if bs.exists(s"$groupDir/$nm/zarr.json") => nm }
          .sorted
    }

  // ------------------------------------------------------------- chunk IO

  /** Chunk-object key for grid position `key`: the `default` encoding
    * prefixes `c` (`c/0/1` — a DIRECTORY tree when the separator is `/`);
    * the `v2` encoding joins indices bare (rank 0 → `0`).
    */
  private[sources] def chunkKey(za: ZarrArray, key: Seq[Long]): String =
    if (za.v3DefaultKeys) ("c" +: key.map(_.toString)).mkString(za.separator)
    else if (key.isEmpty) "0"
    else key.mkString(za.separator)

  /** Decode one SHARD object: verify + read the (offset, nbytes) index,
    * decode each present inner chunk with the inner chain and scatter it
    * into a shard-shaped array (missing inner chunk = fill), with the CF
    * mask-and-scale of [[ZarrSource.decodeChunk]].
    */
  private[sources] def decodeShard(raw: Array[Byte], za: ZarrArray,
                                   sh: Shard): Array[Double] = {
    def slice(off: Long, len: Long) =
      java.util.Arrays.copyOfRange(raw, off.toInt, (off + len).toInt)
    // every inner chunk is admitted, so no cell keeps the exclusion value
    walkShard(za, sh, raw.length.toLong, "", _ => true, Double.NaN)(
      slice, _.iterator.map { case (off, len) => slice(off, len) })
  }

  /** v3-aware chunk decode: routes shards to [[decodeShard]], everything
    * else to the shared [[ZarrSource.decodeChunk]].
    */
  private[sources] def decodeAny(raw: Array[Byte], za: ZarrArray): Array[Double] =
    za.codec match {
      case sh: Shard => decodeShard(raw, za, sh)
      case _ => ZarrSource.decodeChunk(raw, za)
    }

  /** [[decodeShard]] restricted to an ADMITTED inner-chunk set, with
    * RANGED reads — the sub-chunk zone-map path ([[graft.sources.zarr
    * .ChunkStats]] block rows): fetch the shard's index alone, then only
    * the admitted inner chunks' byte ranges in one coalesced multi-range
    * request; every EXCLUDED inner chunk's cells are filled with
    * `failValue` — a value chosen outside the scan's consumed interval
    * set, already in decoded space — so the cursor's per-cell predicate
    * re-evaluation drops them without their bytes ever being fetched.
    * Admitted-but-missing inner chunks fill with the real (decoded) fill
    * value, exactly like the full decode. IO drops from the whole shard
    * to index + admitted blocks — a 2048² shard of 256² inner chunks
    * under a selective predicate reads 1/64th of its payload.
    */
  private[sources] def decodeShardSelective(store: ByteStore, path: String,
                                            za: ZarrArray, sh: Shard,
                                            keep: Set[Int],
                                            failValue: Double): Array[Double] =
    walkShard(za, sh, store.size(path), s"$path: ", keep, failValue)(
      store.readRange(path, _, _), store.readRanges(path, _).iterator)

  /** The one shard-index walk behind both shard decoders, over a shard of
    * `size` bytes: read and crc-check the index (`readRange`), bounds-check
    * the admitted present entries, fetch their payloads in one call
    * (`readRanges`, in entry order), decode each with the inner chain and
    * scatter it in C order into the shard-shaped output; admitted missing
    * inner chunks get the decoded fill value, excluded ones `excluded`.
    * `where` prefixes the `require` messages.
    */
  private def walkShard(za: ZarrArray, sh: Shard, size: Long, where: String,
                        keep: Int => Boolean, excluded: Double)(
      readRange: (Long, Long) => Array[Byte],
      readRanges: Seq[(Long, Long)] => Iterator[Array[Byte]]): Array[Double] = {
    val innerGrid = za.chunks.zip(sh.inner).map { case (c, i) => c / i }
    val idxSize = innerGrid.product * 16 + (if (sh.indexCrc) 4 else 0)
    require(size >= idxSize,
      s"${where}shard of $size bytes shorter than its $idxSize-byte index")
    val idxRaw = readRange(if (sh.indexAtEnd) size - idxSize else 0L, idxSize.toLong)
    val idx = ByteBuffer.wrap(
      if (sh.indexCrc) ZarrSource.decodeStep(idxRaw, Crc32c) else idxRaw)
      .order(ByteOrder.LITTLE_ENDIAN)
    // admitted inner chunks with their index entries; 2^64−1 twice = missing
    val (present, missing) = ZarrSource.allChunkKeys(innerGrid).zipWithIndex
      .collect { case (ik, ord) if keep(ord) =>
        (ik, ord, idx.getLong(ord * 16), idx.getLong(ord * 16 + 8))
      }
      .partition { case (_, _, off, nb) => off != -1L || nb != -1L }
    present.foreach { case (_, ord, off, nb) =>
      require(off >= 0 && nb > 0 && off + nb <= size,
        s"${where}shard index entry $ord out of bounds: offset=$off nbytes=$nb")
    }
    // inner chunks decode against a synthetic chunk-shaped array; the CF
    // decode is applied per cell as they scatter
    val innerZa = za.copy(shape = sh.inner, chunks = sh.inner,
      codec = if (sh.innerSteps.isEmpty) Raw else V3Chain(sh.innerSteps),
      cfScale = 1.0, cfOffset = 0.0, cfFill = None)
    val cf: Double => Double = if (za.cfActive) za.cfDecode else x => x
    val out = Array.fill(za.chunkElems)(excluded)
    val rank = za.chunks.length
    // in-shard strides of the shard-shaped output array (C order)
    val stride = za.chunks.scanRight(1)(_ * _).tail.toArray
    def scatter(ik: Seq[Int])(value: Int => Double): Unit =
      ZarrSource.foreachCell(innerZa, ik.map(_ => 0)) { (flat, _) =>
        var rem = flat
        var shardOff = 0
        var k = rank - 1
        while (k >= 0) {
          val g = ik(k) * sh.inner(k) + rem % sh.inner(k)
          rem /= sh.inner(k)
          shardOff += g * stride(k)
          k -= 1
        }
        out(shardOff) = value(flat)
      }
    present.iterator.zip(readRanges(present.map { case (_, _, off, nb) => (off, nb) }))
      .foreach { case ((ik, _, _, _), raw) =>
        val data = ZarrSource.decodeChunk(raw, innerZa)
        scatter(ik)(flat => cf(data(flat)))
      }
    val fill = cf(za.fillValue)
    missing.foreach { case (ik, _, _, _) => scatter(ik)(_ => fill) }
    out
  }

  /** Read a whole (driver-sized) array — used for coordinate arrays. */
  def readAll(arrayDir: String, za: ZarrArray): Array[Double] = {
    val bs = ByteStore.current
    ZarrSource.readAllWith(za, key =>
      bs.readIfExists(s"$arrayDir/${chunkKey(za, key.map(_.toLong))}"),
      decodeAny)
  }

  // ------------------------------------------------------------- writing

  private def writeJson(path: String, node: JsonNode): Unit =
    ByteStore.current.write(path,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))

  private def codecJson(step: Codec): ObjectNode = {
    val n = mapper.createObjectNode()
    step match {
      case Gzip(level) =>
        n.put("name", "gzip")
        n.putObject("configuration").put("level", level)
      case ZstdC(level) =>
        n.put("name", "zstd")
        n.putObject("configuration").put("level", level).put("checksum", false)
      case Blosc(cname, clevel, shuffle, blocksize) =>
        n.put("name", "blosc")
        n.putObject("configuration").put("cname", cname).put("clevel", clevel)
          .put("shuffle", if (shuffle != 0) "shuffle" else "noshuffle")
          .put("typesize", 8).put("blocksize", blocksize)
      case Crc32c => n.put("name", "crc32c")
      case other => throw new IllegalArgumentException(
        s"$other has no v3 codec form (gzip/zstd/blosc/crc32c)")
    }
    n
  }

  private def bytesCodecJson(): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("name", "bytes")
    n.putObject("configuration").put("endian", "little")
    n
  }

  /** Array `zarr.json` for a float64 array written by this sink. */
  private def arrayDoc(shape: Seq[Int], chunks: Seq[Int], dims: Seq[String],
                       steps: Seq[Codec], shardInner: Option[Seq[Int]]): ObjectNode = {
    val doc = mapper.createObjectNode()
    doc.put("zarr_format", 3)
    doc.put("node_type", "array")
    val sh = doc.putArray("shape"); shape.foreach(v => sh.add(v))
    doc.put("data_type", "float64")
    val cg = doc.putObject("chunk_grid")
    cg.put("name", "regular")
    val cgc = cg.putObject("configuration").putArray("chunk_shape")
    chunks.foreach(v => cgc.add(v))
    val cke = doc.putObject("chunk_key_encoding")
    cke.put("name", "default")
    cke.putObject("configuration").put("separator", "/")
    doc.put("fill_value", "NaN")
    val cs = doc.putArray("codecs")
    shardInner match {
      case None =>
        cs.add(bytesCodecJson())
        steps.foreach(s => cs.add(codecJson(s)))
      case Some(inner) =>
        val s = mapper.createObjectNode()
        s.put("name", "sharding_indexed")
        val cfg = s.putObject("configuration")
        val ic = cfg.putArray("chunk_shape"); inner.foreach(v => ic.add(v))
        val innerCs = cfg.putArray("codecs")
        innerCs.add(bytesCodecJson())
        steps.foreach(st => innerCs.add(codecJson(st)))
        val idxCs = cfg.putArray("index_codecs")
        idxCs.add(bytesCodecJson())
        idxCs.add(codecJson(Crc32c))
        cfg.put("index_location", "end")
        cs.add(s)
    }
    val dn = doc.putArray("dimension_names"); dims.foreach(d => dn.add(d))
    doc.putObject("attributes")
    doc
  }

  /** Distributed Zarr v3 group writer — same contract and plan shape as
    * [[ZarrSource.writeCube]] (binary-search dim lookups, ONE shuffle by
    * stored-object id, per-task encode bounded by one object), with v3
    * metadata and, when `shardInner` is set, `sharding_indexed` objects:
    * the shuffle key is the SHARD id and each task encodes its inner
    * chunks + (offset, nbytes) crc32c index footer in one file write.
    * Shards with no rows are not written (missing object = fill); inside
    * a written shard every inner chunk is materialized (all-fill inner
    * chunks included) — simple, spec-valid, and the write amplification
    * is bounded by one shard.
    *
    * `stats = true` folds the chunk-statistics sidecar
    * ([[graft.sources.zarr.ChunkStats]]) out of the write tasks — v3 cubes
    * are born with their zone maps like v2 ones. For sharded arrays the
    * chunk row covers the SHARD (the scan engine's chunk unit).
    */
  def writeCube(df: DataFrame, groupDir: String, varName: String,
                dims: Seq[(String, Array[Double])], chunks: Seq[Int],
                steps: Seq[Codec] = Seq(ZstdC(3)),
                shardInner: Option[Seq[Int]] = None,
                stats: Boolean = false): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    require(dims.length == chunks.length, "one chunk extent per dimension")
    shardInner.foreach(inner => require(inner.length == chunks.length &&
      chunks.zip(inner).forall { case (c, i) => i > 0 && c % i == 0 },
      s"shard shape $chunks must be divisible by inner chunk shape $shardInner"))
    val shape = dims.map(_._2.length)
    // ---- one shuffle by stored-object (chunk or shard) id; the layout step
    // checks the coords before any write
    val grid = shape.zip(chunks).map { case (s0, c) => (s0 + c - 1) / c }
    val cells = ZarrSource.cellsByChunkVars(df, dims.map(_._1),
      dims.map(_._2.zipWithIndex.toSeq), grid, chunks, Seq(varName))
    // overwriting chunk objects of an existing identical grid is the one
    // mutation a stale ANALYZE sidecar would survive shape-checking
    ChunkStats.invalidate(groupDir)

    // ---- metadata: per-node zarr.json + inline consolidated metadata on
    // the group document (one GET opens every array)
    val groupDoc = mapper.createObjectNode()
    groupDoc.put("zarr_format", 3)
    groupDoc.put("node_type", "group")
    groupDoc.putObject("attributes")
    val cm = groupDoc.putObject("consolidated_metadata")
    cm.put("kind", "inline")
    cm.put("must_understand", false)
    val cmMeta = cm.putObject("metadata")
    val coordSteps = steps.filter(_ != Crc32c) // coords are driver-sized; keep simple
    dims.foreach { case (name, values) =>
      val doc = arrayDoc(Seq(values.length), Seq(values.length), Seq(name),
        coordSteps, None)
      writeJson(s"$groupDir/$name/zarr.json", doc)
      cmMeta.set[JsonNode](name, doc)
      ByteStore.current.write(s"$groupDir/$name/c/0",
        ZarrSource.encodeChunk(values,
          if (coordSteps.isEmpty) Raw else V3Chain(coordSteps)))
    }
    val varDoc = arrayDoc(shape, chunks, dims.map(_._1), steps, shardInner)
    writeJson(s"$groupDir/$varName/zarr.json", varDoc)
    cmMeta.set[JsonNode](varName, varDoc)
    writeJson(s"$groupDir/zarr.json", groupDoc)

    val chunkElems = chunks.product
    val arrayDir = s"$groupDir/$varName"
    val chain = if (steps.isEmpty) Raw else V3Chain(steps)
    val za = parseArrayJson(varDoc, arrayDir) // serializable parsed form
    val taskBs = ByteStore.current // captured VALUE — runs inside chunk tasks
    val computeStats = stats
    val grids = Seq(ChunkStats.blockGrid(za, v3 = true))
    val written = ZarrSource.perChunk(cells) { (cidV, it) =>
      val data = Array.fill(chunkElems)(Double.NaN)
      it.foreach { case (_, o, vs) => data(o) = vs.head }
      val key = ZarrSource.chunkKeyOf(cidV, grid)
      val payload = shardInner match {
        case None => ZarrSource.encodeChunk(data, chain)
        case Some(inner) => encodeShard(data, chunks, inner, chain)
      }
      taskBs.write(s"$arrayDir/${chunkKey(za, key.toSeq)}", payload)
      if (!computeStats) Iterator.empty
      else ChunkStats.chunkRows(za, key.map(_.toInt).toSeq, Seq(varName),
        grids, Array(data)).iterator
    }
    // the action runs the job; the writes are its side effect
    if (computeStats)
      ChunkStats.writeSidecar(groupDir, groupDir, Seq(varName -> za),
        v3 = true, written)
    else written.foreach((_: ChunkStats.StatRow) => ())
  }

  /** Encode one shard: split the shard-shaped array into inner chunks,
    * encode each with the inner chain, concatenate, append the
    * (offset, nbytes) uint64-LE index + crc32c footer.
    */
  private[sources] def encodeShard(data: Array[Double], shard: Seq[Int],
                                   inner: Seq[Int], chain: Codec): Array[Byte] = {
    val innerGrid = shard.zip(inner).map { case (c, i) => c / i }
    val nInner = innerGrid.product
    val rank = shard.length
    val stride = shard.scanRight(1)(_ * _).tail.toArray
    val innerElems = inner.product
    val body = new java.io.ByteArrayOutputStream()
    val idx = ByteBuffer.allocate(nInner * 16).order(ByteOrder.LITTLE_ENDIAN)
    ZarrSource.allChunkKeys(innerGrid).foreach { ik =>
      val chunk = new Array[Double](innerElems)
      var flat = 0
      // gather inner-chunk cells from the shard array (C-order odometer)
      val odo = new Array[Int](rank)
      while (flat < innerElems) {
        var shardOff = 0
        var k = 0
        while (k < rank) {
          shardOff += (ik(k) * inner(k) + odo(k)) * stride(k)
          k += 1
        }
        chunk(flat) = data(shardOff)
        var d = rank - 1
        var carry = true
        while (carry && d >= 0) {
          odo(d) += 1
          if (odo(d) == inner(d)) { odo(d) = 0; d -= 1 } else carry = false
        }
        flat += 1
      }
      val enc = ZarrSource.encodeChunk(chunk, chain)
      idx.putLong(body.size().toLong)
      idx.putLong(enc.length.toLong)
      body.write(enc)
    }
    body.write(ZarrSource.encodeStep(idx.array(), Crc32c))
    body.toByteArray
  }
}
