package graft.engine

import org.scalatest.funsuite.AnyFunSuite

/** Multimodal binary-column plumbing. Metadata decode is REAL header
  * parsing (PNG IHDR / JPEG SOF marker walk / GIF screen descriptor);
  * pixel-level steps (embedding, frames, resize) remain stubs — codecs
  * are absent in this environment but dims don't need one. */
class MultimodalSpec extends AnyFunSuite {

  private lazy val spark = graft.TestSpark.spark

  private def hx(s: String): Array[Byte] =
    s.replaceAll("\\s", "").grouped(2)
      .map(p => Integer.parseInt(p, 16).toByte).toArray

  /** Spec-correct minimal containers. */
  private def png(w: Int, h: Int): Array[Byte] =
    hx(f"89504E470D0A1A0A 0000000D 49484452 $w%08X $h%08X 0806000000")
  private def jpegJfif(w: Int, h: Int): Array[Byte] =
    hx(f"FFD8 FFE00010 4A46494600 0101 0000010001 0000" + // APP0, 16 bytes
      f" FFFE0004 CAFE" +                                  // COM segment
      f" FFC00011 08 $h%04X $w%04X 03012200021101031101") // SOF0
  private def gif(w: Int, h: Int): Array[Byte] = {
    def le(v: Int) = f"${v & 0xff}%02X${(v >> 8) & 0xff}%02X"
    hx(s"474946383961 ${le(w)} ${le(h)} 00")
  }

  private def decode(bytes: Array[Byte]) =
    Multimodal.HeaderDecoder.decode(bytes)

  test("PNG: width/height parsed big-endian from IHDR") {
    assert(decode(png(1920, 1080)) ==
      Multimodal.MediaMeta("png", 1920, 1080, 29L))
    assert(decode(png(1, 1)).width == 1)
  }

  test("JPEG: marker walk skips APP0+COM segments to SOF0") {
    val b = jpegJfif(640, 480)
    assert(decode(b) == Multimodal.MediaMeta("jpeg", 640, 480, b.length.toLong))
  }

  test("JPEG: fill bytes and standalone markers don't derail the walk") {
    // SOI, fill byte before APP0, RST standalone, then SOF0
    val b = hx("FFD8 FF FFE00004 0000 FFD0 FFC00011 08 0040 0080" +
      " 03012200021101031101")
    assert(decode(b).width == 0x80 && decode(b).height == 0x40)
  }

  /** A JPEG whose SOF0 sits behind `n` COM segments of varying lengths —
    * drives the marker walk to any chosen depth. */
  private def jpegWithSegments(n: Int, w: Int, h: Int): Array[Byte] = {
    val coms = (0 until n).map { i =>
      val payload = 1 + (i % 5) // segment length = 2 (len field) + payload
      f"FFFE${2 + payload}%04X" + "AB" * payload
    }.mkString
    hx(f"FFD8 $coms%s FFC00011 08 $h%04X $w%04X 03012200021101031101")
  }

  test("JPEG walk depth sweep: any segment count up to the shared 64-hop " +
    "cap decodes; past it, bounded (jpeg, 0, 0) — the oracle's exact rule") {
    // the generality property behind the class-8 fixtures (2 and 3
    // intermediate segments): the LOOP handles every depth, and the walk
    // shares the oracle's recursion bound (Media.mediaMetaSql depth < 64)
    // so both engines would agree even on a pathological >64-segment blob
    for (n <- Seq(0, 1, 2, 3, 5, 17, 33, 63)) {
      val m = decode(jpegWithSegments(n, 640, 480))
      assert(m == Multimodal.MediaMeta("jpeg", 640, 480,
        jpegWithSegments(n, 640, 480).length.toLong),
        s"walk failed at depth $n")
    }
    // 64 segment hops put the SOF at the walk's deepest permitted row —
    // still decodes on both sides (the oracle checks its deepest row)
    assert(decode(jpegWithSegments(64, 12, 34)).width == 12)
    // 65 hops exceed the shared bound: dims 0, never an unbounded walk
    val over = decode(jpegWithSegments(65, 12, 34))
    assert(over == Multimodal.MediaMeta("jpeg", 0, 0,
      jpegWithSegments(65, 12, 34).length.toLong))
  }

  test("GIF: little-endian logical screen descriptor") {
    val b = gif(320, 200)
    assert(decode(b) == Multimodal.MediaMeta("gif", 320, 200, b.length.toLong))
  }

  test("GIF block walk: frames counted through every structural branch") {
    def gce = "21F904 000A0000 00"
    def img(lct: Boolean) =
      "2C 00000000 4001 F000 " + (if (lct) "81 " + "EE" * 12 else "00") +
        " 02 03AAAAAA 00"
    // two frames, global color table (2 entries = 6 bytes), trailing
    // comment extension — all branches in one container
    val full = hx("474946383961 4001 F000 80 0000 " + "FF" * 6 +
      s" $gce ${img(lct = false)} $gce ${img(lct = true)}" +
      " 21FE 02 4343 00 3B")
    assert(Multimodal.gifFrameCount(full) == 2)
    // truncation after the first frame loses only the uncounted tail
    val oneAndCut = hx("474946383961 4001 F000 00 0000 " +
      s"$gce ${img(lct = false)} 2C 0000") // second descriptor truncated
    assert(Multimodal.gifFrameCount(oneAndCut) == 1)
    // no frames: header + LSD + trailer
    assert(Multimodal.gifFrameCount(
      hx("474946383961 4001 F000 00 0000 3B")) == 0)
    // not a GIF / too short
    assert(Multimodal.gifFrameCount("plain text".getBytes) == 0)
    assert(Multimodal.gifFrameCount(hx("474946383961 4001")) == 0)
    // unknown block byte stops the walk, count so far stands
    assert(Multimodal.gifFrameCount(hx("474946383961 4001 F000 00 0000 " +
      s"$gce ${img(lct = false)} 7F 0000")) == 1)
    // the 64-event bound: a long extension sub-block chain exhausts the
    // budget before the frame behind it is reached
    val chain = "01AA" * 70
    assert(Multimodal.gifFrameCount(hx("474946383961 4001 F000 00 0000 " +
      s"21FE $chain 00 ${img(lct = false)} 3B")) == 0)
  }

  test("WAV chunk walk: fmt fields through JUNK skip and odd-size padding") {
    def le16(v: Int) = f"${v & 0xff}%02X${(v >> 8) & 0xff}%02X"
    def le32(v: Int) =
      f"${v & 0xff}%02X${(v >> 8) & 0xff}%02X" +
        f"${(v >> 16) & 0xff}%02X${(v >> 24) & 0xff}%02X"
    def fmt(ch: Int, sr: Int) =
      "666D7420 " + le32(16) + " 0100 " + le16(ch) + le32(sr) +
        le32(sr * ch * 2) + le16(ch * 2) + le16(16)
    val data = "64617461 " + le32(6) + " ABABABABABAB"
    // canonical: RIFF → fmt → data
    val plain = hx("52494646" + le32(50) + "57415645 " +
      fmt(2, 44100) + " " + data)
    assert(Multimodal.wavMeta(plain) == ((2, 44100, 176400, 16, 6L)))
    // a JUNK chunk with an ODD size must be skipped INCLUDING its pad
    // byte, or the walk lands mid-chunk and every later field is garbage
    val junked = hx("52494646" + le32(62) + "57415645 " +
      "4A554E4B" + le32(3) + "4A4A4A 00 " + fmt(1, 8000) + " " + data)
    assert(Multimodal.wavMeta(junked) == ((1, 8000, 16000, 16, 6L)))
    // missing data chunk → data_bytes 0; fmt fields still extracted
    val noData = hx("52494646" + le32(28) + "57415645 " + fmt(1, 22050))
    assert(Multimodal.wavMeta(noData) == ((1, 22050, 44100, 16, 0L)))
    // truncated fmt (size says 16, bytes end early) → all zeros
    val cut = hx("52494646" + le32(20) + "57415645 666D7420" + le32(16) +
      "0100")
    assert(Multimodal.wavMeta(cut) == ((0, 0, 0, 0, 0L)))
    // not RIFF/WAVE
    assert(Multimodal.wavMeta("RIFFxxxxNOPE".getBytes) == ((0, 0, 0, 0, 0L)))
  }

  test("MP4 box walk: ftyp brand, mvhd fields, trak count, free skip") {
    def be32(v: Int) =
      f"${(v >> 24) & 0xff}%02X${(v >> 16) & 0xff}%02X" +
        f"${(v >> 8) & 0xff}%02X${v & 0xff}%02X"
    val ftyp = be32(16) + "66747970 69736F6D 00000200"
    def mvhd(ts: Int, dur: Int) =
      be32(108) + "6D766864 00000000 00000000 00000000 " +
        be32(ts) + be32(dur) +
        "00010000 01000000 " + "00" * 8 +
        "00010000 00000000 00000000 00000000 00010000 00000000 " +
        "00000000 00000000 40000000 " + "00" * 24 + be32(2)
    def trak(n: Int) = be32(8 + n) + "7472616B " + "AB" * n
    // canonical: ftyp → moov(mvhd + 2 trak)
    val body = mvhd(90000, 450000) + trak(10) + trak(10)
    val plain = hx(ftyp + be32(8 + body.replace(" ", "").length / 2) +
      "6D6F6F76 " + body)
    assert(Multimodal.mp4Meta(plain) ==
      (("69736F6D", 90000L, 450000L, 2L)))
    // a free box between ftyp and moov is skipped by size
    val withFree = hx(ftyp + be32(11) + "66726565 ABABAB " +
      be32(8 + (mvhd(600, 1200) + trak(4)).replace(" ", "").length / 2) +
      "6D6F6F76 " + mvhd(600, 1200) + trak(4))
    assert(Multimodal.mp4Meta(withFree) == (("69736F6D", 600L, 1200L, 1L)))
    // LARGESIZE (size field == 1): the 64-bit size at box bytes 8-15
    // governs and the header is 16 bytes — a largesize free box must be
    // skipped by its 64-bit size, landing exactly on moov (r14 #5)
    val big = hx(ftyp + be32(1) + "66726565" +
      "0000000000000013" + " ABABAB " + // largesize 19 = 16 hdr + 3 pad
      be32(8 + (mvhd(600, 1200) + trak(4)).replace(" ", "").length / 2) +
      "6D6F6F76 " + mvhd(600, 1200) + trak(4))
    assert(Multimodal.mp4Meta(big) == (("69736F6D", 600L, 1200L, 1L)))
    // to-EOF (size field == 0): the box runs to end of stream — a
    // trailing mdat consumes the rest without disturbing parsed state
    val withMdat = hx(ftyp + be32(8 + body.replace(" ", "").length / 2) +
      "6D6F6F76 " + body + be32(0) + "6D646174 CDCDCDCD")
    assert(Multimodal.mp4Meta(withMdat) ==
      (("69736F6D", 90000L, 450000L, 2L)))
    // a largesize header truncated before byte 16 stops the walk with
    // the state so far — never a throw or a spin
    val badSize = hx(ftyp + be32(1) + "6D6F6F76")
    assert(Multimodal.mp4Meta(badSize) == (("69736F6D", 0L, 0L, 0L)))
    // a largesize whose 64-bit size overruns the stream also stops
    val bigOverrun = hx(ftyp + be32(1) + "66726565" + "000000000000FFFF")
    assert(Multimodal.mp4Meta(bigOverrun) == (("69736F6D", 0L, 0L, 0L)))
    // a largesize near 2^63 would wrap pos + size negative under an
    // addition-form bound check and index out of bounds — the
    // subtraction-form guard (size > len - pos) stops it cleanly
    val bigWrap = hx(ftyp + be32(1) + "66726565" + "7FFFFFFFFFFFFFF0")
    assert(Multimodal.mp4Meta(bigWrap) == (("69736F6D", 0L, 0L, 0L)))
    // a largesize SMALLER than its own 16-byte header is malformed: stop
    val bigTiny = hx(ftyp + be32(1) + "66726565" + "000000000000000A" +
      be32(16) + "6D6F6F76 00000000 00000000")
    assert(Multimodal.mp4Meta(bigTiny) == (("69736F6D", 0L, 0L, 0L)))
    // an overrunning box stops the walk; prior fields stand
    val overrun = hx(ftyp + be32(9999) + "6D6F6F76")
    assert(Multimodal.mp4Meta(overrun) == (("69736F6D", 0L, 0L, 0L)))
    // truncated mid-header: state so far stands
    val cut = plain.take(20)
    assert(Multimodal.mp4Meta(cut) == (("69736F6D", 0L, 0L, 0L)))
    // not a box stream at all / empty
    assert(Multimodal.mp4Meta("plain text!!".getBytes) ==
      (("", 0L, 0L, 0L)))
    assert(Multimodal.mp4Meta(Array.empty[Byte]) == (("", 0L, 0L, 0L)))
  }

  test("corrupt/truncated payloads never throw; format = signature, dims 0") {
    // policy (ADVICE r7): format reflects the recognized leading signature,
    // width=height=0 signals an unparseable header — uniform across formats
    val p = decode(png(9, 9).take(12)) // PNG sig, truncated before IHDR
    assert(p.format == "png" && p.width == 0 && p.height == 0)
    val j = decode(hx("FFD8") ++ "garbage".getBytes) // SOI then junk
    assert(j.format == "jpeg" && j.width == 0 && j.height == 0)
    val s = decode(hx("FFD8 FFE00010 4A46494600 0101 0000010001 0000 FFDA") ++
      "entropy".getBytes) // SOS reached before any SOF
    assert(s.format == "jpeg" && s.width == 0 && s.height == 0)
    val g = decode(gif(320, 200).take(7)) // cut mid screen-descriptor
    assert(g.format == "gif" && g.width == 0 && g.height == 0)
    assert(decode("plain text".getBytes) ==
      Multimodal.MediaMeta("bin", 0, 0, 10L))
    assert(decode(Array.empty[Byte]).format == "bin")
    assert(decode(png(9, 9).take(4)).format == "bin") // sig itself truncated
  }

  private def mediaDf = {
    import spark.implicits._
    Seq((1L, png(100, 50)), (2L, jpegJfif(640, 480)), (3L, gif(320, 200)),
      (4L, Array[Byte](0, 1, 2, 3, 4, 5, 6, 7)))
      .toDF("id", "media").repartition(2)
  }

  test("decode adds a typed meta struct, preserves other columns") {
    val out = Multimodal.withDecodedMeta(mediaDf, "media")
    assert(out.columns.toSeq == Seq("id", "media", "meta"))
    val byId = out.selectExpr("id", "meta.format", "meta.width", "meta.height")
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3))))
      .toMap
    assert(byId(1L) == (("png", 100, 50)))
    assert(byId(2L) == (("jpeg", 640, 480)))
    assert(byId(3L) == (("gif", 320, 200)))
    assert(byId(4L) == (("bin", 0, 0)))
  }

  test("decode is deterministic across runs") {
    val a = Multimodal.withDecodedMeta(mediaDf, "media")
      .selectExpr("id", "meta").orderBy("id").collect().toSeq
    val b = Multimodal.withDecodedMeta(mediaDf, "media")
      .selectExpr("id", "meta").orderBy("id").collect().toSeq
    assert(a == b)
  }
}
