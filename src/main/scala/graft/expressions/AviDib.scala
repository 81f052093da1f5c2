package graft.expressions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** REAL AVI (RIFF 'AVI ') container codec with uncompressed DIB video
  * frames — the video-modality counterpart of [[WavPcm16]] and
  * [[BmpRgb24]], completing true-codec decode across all three
  * multimodal formats. [[AviDib.frames]] walks the top-level RIFF
  * chunk list, descends into LIST chunks by their list type, collects
  * the '00db'/'00dc' frame payloads inside LIST('movi') honoring the
  * odd-size pad rule, and cross-checks the collected frame count
  * against the avih main header's dwTotalFrames — a container whose
  * index lies is rejected, not sliced. Each extracted frame is itself a
  * complete BMP, decoded by the (already format-proven) [[BmpRgb24]]
  * parser.
  *
  * [[AviDib.encode]] synthesizes the fixture: payload bytes are cut
  * into fixed-size frame slices, each packed as a real 16-px-wide BMP
  * inside a '00db' chunk, with a valid hdrl (avih + strl/strh/strf)
  * ahead of the movi list. Because frame f's pixel stream is exactly
  * payload[f·frameBytes : (f+1)·frameBytes) plus a zero tail, the
  * DuckDB oracle replays every frame statistic from hex byte pairs.
  */
object AviDib {

  import LeBytes.{u16le, u32le, readU32, fourcc}

  private def fourccBytes(s: String): Array[Byte] =
    s.getBytes(StandardCharsets.US_ASCII)

  private def chunk(id: String, body: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(8 + body.length + 1)
    out.write(fourccBytes(id))
    out.write(u32le(body.length))
    out.write(body)
    if ((body.length & 1) == 1) out.write(0) // RIFF pad rule
    out.toByteArray
  }

  private def list(listType: String, body: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(12 + body.length)
    out.write(fourccBytes("LIST"))
    out.write(u32le(4 + body.length))
    out.write(fourccBytes(listType))
    out.write(body)
    out.toByteArray
  }

  val FrameWidth = 16

  /** Build a valid single-stream uncompressed-video AVI whose movi list
    * carries one '00db' BMP frame per `frameBytes` slice of `payload`
    * (last frame shorter; at least one frame). */
  def encode(payload: Array[Byte], frameBytes: Int): Array[Byte] = {
    require(frameBytes > 0, s"avi_dib: frameBytes must be positive")
    val nFrames = math.max(1, (payload.length + frameBytes - 1) / frameBytes)
    val frames = (0 until nFrames).map { f =>
      val from = f * frameBytes
      val until = math.min(payload.length, from + frameBytes)
      BmpRgb24.encode(java.util.Arrays.copyOfRange(payload, from, until),
        FrameWidth)
    }
    val avih = {
      val o = new java.io.ByteArrayOutputStream(56)
      o.write(u32le(33333)) // µs per frame (~30 fps)
      o.write(u32le(0)); o.write(u32le(0)); o.write(u32le(0)) // rate/pad/flags
      o.write(u32le(nFrames)) // dwTotalFrames — decoder cross-checks
      o.write(u32le(0)) // initial frames
      o.write(u32le(1)) // streams
      o.write(u32le(frames.map(_.length).max)) // suggested buffer
      o.write(u32le(FrameWidth))
      o.write(u32le((frames.map(_.length).max / 54 + 1))) // nominal height
      (0 until 4).foreach(_ => o.write(u32le(0))) // reserved
      o.toByteArray
    }
    val strh = {
      val o = new java.io.ByteArrayOutputStream(56)
      o.write(fourccBytes("vids"))
      o.write(fourccBytes("DIB "))
      (0 until 12).foreach(_ => o.write(u32le(0)))
      o.toByteArray
    }
    val strf = { // BITMAPINFOHEADER describing the frames
      val o = new java.io.ByteArrayOutputStream(40)
      o.write(u32le(40)); o.write(u32le(FrameWidth)); o.write(u32le(1))
      o.write(u16le(1)); o.write(u16le(24))
      o.write(u32le(0)); o.write(u32le(0))
      o.write(u32le(2835)); o.write(u32le(2835))
      o.write(u32le(0)); o.write(u32le(0))
      o.toByteArray
    }
    val hdrl = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val movi = {
      // linear assembly — frames.reduce(_ ++ _) recopies the prefix
      // per frame (O(F²) bytes)
      val o = new java.io.ByteArrayOutputStream()
      frames.foreach(f => o.write(chunk("00db", f)))
      list("movi", o.toByteArray)
    }
    val body = fourccBytes("AVI ") ++ hdrl ++ movi
    fourccBytes("RIFF") ++ u32le(body.length) ++ body
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"avi_dib: $msg")

  /** Extract the DIB frame payloads by walking the container; validates
    * RIFF/'AVI ' magics and the avih frame count. */
  def frames(avi: Array[Byte]): ArrayData = {
    if (avi.length < 12) fail(s"container too short (${avi.length})")
    if (fourcc(avi, 0) != "RIFF") fail("missing RIFF magic")
    if (fourcc(avi, 8) != "AVI ") fail("missing 'AVI ' form type")
    val riffEnd = math.min(avi.length.toLong, 8L + readU32(avi, 4))
    val out = new java.util.ArrayList[Array[Byte]]()
    var declared = -1L
    var sawAvih = false
    var off = 12
    while (off + 8 <= riffEnd) {
      val cid = fourcc(avi, off)
      val size = readU32(avi, off + 4)
      // bound against the DECLARED riff extent, not the raw array:
      // trailing bytes past the declared size are not container content
      if (size < 0 || off + 8L + size > riffEnd)
        fail(s"chunk '$cid' overruns the declared RIFF extent")
      if (cid == "LIST" && size >= 4) {
        val listType = fourcc(avi, off + 8)
        if (listType == "movi") {
          // walk the frame chunks inside the movi list
          var sub = off + 12
          val listEnd = off + 8 + size
          while (sub + 8 <= listEnd) {
            val fid = fourcc(avi, sub)
            val fsize = readU32(avi, sub + 4)
            if (fsize < 0 || sub + 8L + fsize > listEnd)
              fail(s"movi chunk '$fid' overruns its list")
            if (fid == "00db" || fid == "00dc")
              out.add(java.util.Arrays.copyOfRange(avi, sub + 8,
                sub + 8 + fsize))
            sub += 8 + fsize + (fsize & 1)
          }
        } else if (listType == "hdrl") {
          // find avih for the declared frame count
          var sub = off + 12
          val listEnd = off + 8 + size
          var found = false
          while (!found && sub + 8 <= listEnd) {
            val hid = fourcc(avi, sub)
            val hsize = readU32(avi, sub + 4)
            if (hsize < 0 || sub + 8L + hsize > listEnd)
              fail(s"hdrl chunk '$hid' overruns its list")
            if (hid == "avih") {
              if (hsize < 24) fail(s"avih too short ($hsize)")
              // u32: read unsigned so a count >= 2^31 reports as a
              // frame-count mismatch, not a bogus missing-header error
              declared = readU32(avi, sub + 8 + 16) & 0xffffffffL
              sawAvih = true
              found = true
            }
            sub += 8 + hsize + (hsize & 1)
          }
        }
      }
      off += 8 + size + (size & 1)
    }
    if (!sawAvih) fail("no avih main header")
    if (out.size.toLong != declared)
      fail(s"avih declares $declared frames, movi carries ${out.size}")
    new GenericArrayData(out.toArray)
  }
}
