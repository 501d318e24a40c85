package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the REAL half of the m2 codec seam: payloads that are decodable
  * images go through javax.imageio and report true pixel dimensions;
  * anything else falls back to the labeled deterministic fake the oracle
  * replays in SQL. The fixture tables contain only text payloads, so this
  * is the one place the image path is exercised — on a PNG synthesized in
  * memory, through the same mapPartitions pipeline m2 runs. */
class MultimodalDecodeSpec extends AnyFunSuite with LocalSpark {

  private def png(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until w).foreach(x => (0 until h).foreach(y =>
      img.setRGB(x, y, (x * 31 + y * 7) & 0xFFFFFF)))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  test("m2 decode: real PNG payloads report true pixel dimensions via ImageIO") {
    import spark.implicits._
    val payload = png(7, 3)
    val textBytes = "plain text payload".getBytes("UTF-8")
    val rows = Seq(
      operators.Multimodal.MediaRow(1L, payload),
      operators.Multimodal.MediaRow(2L, textBytes))
    val out = rows.toDS()
      .mapPartitions(rs => rs.map(operators.Multimodal.decode))
      .collect().map(d => d.doc_id -> d).toMap
    // image path: dimensions come from the decoded frame, not byte games
    assert(out(1L).width == 7 && out(1L).height == 3)
    assert(out(1L).byte_len == payload.length)
    // non-image path: the deterministic fake (first-byte arithmetic)
    assert(out(2L).width == (textBytes(0) & 0xff) % 64 + 1)
    assert(out(2L).height == (textBytes(1) & 0xff).toLong)
    assert(out(2L).byte_sum == textBytes.map(b => (b & 0xff).toLong).sum)
  }

  test("m4 resize: real PNG halves its dimensions; text takes the stride-4 fake") {
    val payload = png(8, 6)
    val real = operators.Multimodal.resize(operators.Multimodal.MediaRow(1L, payload))
    assert(real.orig_len == payload.length)
    // independently compute the expected 4×3 thumbnail PNG; ImageIO's PNG
    // encoder is deterministic, so the digests must match exactly
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    val out = new java.awt.image.BufferedImage(4, 3,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics(); g.drawImage(img, 0, 0, 4, 3, null); g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", bos)
    val expected = bos.toByteArray
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(expected))
    assert(back.getWidth == 4 && back.getHeight == 3)
    assert(real.resized_len == expected.length)
    assert(real.resized_md5 ==
      java.security.MessageDigest.getInstance("MD5").digest(expected)
        .map("%02x".format(_)).mkString)
    // text path reproduces the SQL stride rule exactly
    val fake = operators.Multimodal.resize(
      operators.Multimodal.MediaRow(2L, "abcdefghij".getBytes("UTF-8")))
    assert(fake.orig_len == 10 && fake.resized_len == 3) // a, e, i
  }

  test("m2 decode: corrupt image header falls back to the fake, never throws") {
    val broken = png(4, 4).take(16) // valid PNG magic, truncated body
    val d = operators.Multimodal.decode(operators.Multimodal.MediaRow(9L, broken))
    assert(d.byte_len == 16)
    assert(d.width == (broken(0) & 0xff) % 64 + 1)
  }

  /** A PNG with a controlled horizontal brightness ramp per row: cell
    * (r, c) of an 8×8 grid gets gray value ramp(r)(c), so the expected
    * dHash gradient bits are known exactly after the 8×8 downsample
    * (each grid cell IS one pixel here — no resampling ambiguity). */
  private def grayPng(ramp: Array[Array[Int]]): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    (0 until 8).foreach(r => (0 until 8).foreach(c =>
      img.getRaster.setSample(c, r, 0, ramp(r)(c))))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  test("m10 dhash: real image path — known gradients, edit-tolerance, discrimination") {
    // strictly increasing rows → every gradient bit is 0 (g(c) < g(c+1))
    val inc = Array.tabulate(8, 8)((_, c) => c * 30)
    // strictly decreasing rows → all 56 bits set
    val dec = Array.tabulate(8, 8)((_, c) => (7 - c) * 30)
    val hInc = operators.Multimodal.dhash(
      operators.Multimodal.MediaRow(1L, grayPng(inc))).dhash
    val hDec = operators.Multimodal.dhash(
      operators.Multimodal.MediaRow(2L, grayPng(dec))).dhash
    assert(hInc == 0L, s"increasing ramp must hash to 0, got $hInc")
    assert(hDec == (1L << 56) - 1, s"decreasing ramp must set all 56 bits")
    // one-cell edit flips at most 2 gradient bits (its two adjacent pairs)
    val edited = inc.map(_.clone()); edited(3)(4) = 255
    val hEdit = operators.Multimodal.dhash(
      operators.Multimodal.MediaRow(3L, grayPng(edited))).dhash
    assert(java.lang.Long.bitCount(hInc ^ hEdit) <= 2 &&
      java.lang.Long.bitCount(hInc ^ hEdit) >= 1,
      s"single-cell edit must flip 1-2 bits, flipped ${java.lang.Long.bitCount(hInc ^ hEdit)}")
  }

  test("m10 dhash: text fallback replays the SQL grid arithmetic exactly") {
    val txt = "the quick brown fox jumps over the lazy dog and keeps running"
    val h = operators.Multimodal.dhash(
      operators.Multimodal.MediaRow(4L, txt.getBytes("UTF-8"))).dhash
    // independent reimplementation of the oracle's arithmetic
    var expected = 0L
    val len = txt.length
    for (r <- 0 until 8; c <- 0 until 7) {
      val a = txt.charAt(((r * 8 + c) * len) / 64).toInt
      val b = txt.charAt(((r * 8 + c + 1) * len) / 64).toInt
      if (a > b) expected |= 1L << (r * 7 + c)
    }
    assert(h == expected)
  }

  test("m12 luma histogram: uniform-gray PNG lands every pixel in one bucket; text takes the byte fake") {
    // gray 100 → luma 100 → bucket 100 >> 5 = 3, for every pixel
    val img = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 16).foreach(x => (0 until 16).foreach(y =>
      img.setRGB(x, y, (100 << 16) | (100 << 8) | 100)))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val real = operators.Multimodal.lumaHistogram(
      operators.Multimodal.MediaRow(1L, out.toByteArray))
    assert(real.map(_.bucket) == Seq(3L), s"buckets ${real.map(_.bucket)}")
    assert(real.head.is_image && real.head.cnt == 256L, real.head)

    val txt = "Mixed CASE text 0123"
    val fake = operators.Multimodal.lumaHistogram(
      operators.Multimodal.MediaRow(2L, txt.getBytes("UTF-8")))
    assert(fake.forall(!_.is_image))
    // independent recount of the oracle's ascii//32 grouping
    val expected = txt.getBytes("UTF-8").groupBy(b => ((b & 0xff) >> 5).toLong)
      .view.mapValues(_.length.toLong).toMap
    assert(fake.map(b => b.bucket -> b.cnt).toMap == expected)
    assert(fake.map(_.cnt).sum == txt.length.toLong)
  }

  test("m13 header parse: a REAL ImageIO-encoded PNG yields its true IHDR fields, codec-free") {
    import spark.implicits._
    // ImageIO writes a spec-conformant IHDR; the hex-offset parser must
    // read the same dimensions the encoder embedded — proving m13 parses
    // genuine encoder output, not only the headers the oracle synthesizes
    val rows = Seq((1L, png(37, 21)), (2L, "not a container".getBytes("UTF-8")))
      .toDF("doc_id", "b")
    val out = operators.Multimodal.headerMeta(rows).collect()
      .map(r => r.getLong(0) -> r).toMap
    val p = out(1L)
    assert(p.getString(1) == "png")
    assert(p.getLong(2) == 37L && p.getLong(3) == 21L, s"parsed ${p.getLong(2)}x${p.getLong(3)}")
    assert(p.getLong(4) == 8L, s"bit depth ${p.getLong(4)}")
    assert(out(2L).getString(1) == "unparsed" && out(2L).isNullAt(2))
  }

  test("m16 tiles: real image path digests pixel blocks — identical blocks match across positions") {
    // 8×8 image whose left half repeats the same 2×8 column pattern:
    // tiles (r,0) and (r,1) hold identical pixels for every row r, while
    // the right half is a gradient making all its tiles distinct.
    val img = new java.awt.image.BufferedImage(
      8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 8).foreach { x => (0 until 8).foreach { y =>
      val v = if (x < 4) (x % 2) * 1000 + y else 0x10000 + x * 256 + y * 17
      img.setRGB(x, y, v)
    }}
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    val tiles = operators.Multimodal
      .tileDigests(operators.Multimodal.MediaRow(1L, out.toByteArray))
    assert(tiles.length == 16)
    assert(tiles.forall(_.tile_len == 4), "8×8 / 4×4 grid → 2×2-pixel tiles")
    val byIdx = tiles.map(t => t.tile_idx -> t.digest).toMap
    (0 until 4).foreach { r =>
      assert(byIdx(r * 4L) == byIdx(r * 4L + 1),
        s"row $r: repeated left-half columns must tile-match")
      assert(byIdx(r * 4L + 2) != byIdx(r * 4L + 3),
        s"row $r: gradient right-half tiles must differ")
    }
    // text fallback replays the oracle's character-slice arithmetic
    val text = ("abcdefgh" * 9).take(67) // 67 chars → t=4, last tile 7 chars
    val tt = operators.Multimodal.tileDigests(
      operators.Multimodal.MediaRow(2L, text.getBytes("UTF-8")))
    assert(tt.length == 16 && tt.take(15).forall(_.tile_len == 4) &&
      tt.last.tile_len == 7)
    // supplementary-plane characters count as ONE unit (code-point slicing,
    // ADVICE r8): 32 emoji = 64 UTF-16 units but only 32 code points → t=2,
    // and every slice boundary lands between surrogate pairs, never inside
    val emoji = "😀" * 32 // U+1F600 GRINNING FACE ×32
    val et = operators.Multimodal.tileDigests(
      operators.Multimodal.MediaRow(3L, emoji.getBytes("UTF-8")))
    assert(et.length == 16 && et.forall(_.tile_len == 2),
      s"emoji tiling: ${et.map(_.tile_len)}")
    // all 16 tiles are the identical 2-emoji slice → one distinct digest
    assert(et.map(_.digest).distinct.length == 1)
  }
}
