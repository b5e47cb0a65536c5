package graft

import graft.ops.MediaOps
import graft.pdf.PdfWriter
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Byte stability of every binary writer: the media oracles check values
  * derived from the files and the PDF specs check round-tripped text, so
  * this spec pins the files themselves. Each case's SHA-256 is the
  * writer's output as first committed; a refactor of a writer must leave
  * every digest unchanged. On a mismatch the message lists each failing
  * case with the digest it now gives. */
class WriterBytesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .appName("writer-bytes-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map("%02x".format(_)).mkString

  private def checkDigests(cases: Seq[(String, () => Array[Byte])],
      expected: Map[String, String]): Unit = {
    val wrong = cases.flatMap { case (name, bytes) =>
      val got = sha256(bytes())
      if (expected.get(name).contains(got)) None else Some(s"$name -> $got")
    }
    if (wrong.nonEmpty) fail(wrong.mkString("digest mismatch:\n", "\n", ""))
  }

  // PDF text edge inputs: literal-string escapes, control characters and
  // Latin-1 (literal form), and characters above U+00FF (UTF-16BE hex form)
  private val escapes = "a(b)c\\d\te\rf\u0001 café ÿ\u007f"
  private val wide = "中文 текст ☃ (x) \\"
  // cmap runs: "abcd" (≥3 → sequential bfrange), "XY" (2 → array
  // bfrange), "!" and "q" (1 → bfchar), and a wide run "⟶"
  private val runs = "abcdXY!q ⟶ fghi"
  private val agl = Map('é' -> "eacute", '€' -> "Euro", '—' -> "emdash")

  private val writers: Seq[(String, () => Array[Byte])] = Seq(
    "png 1x1 s0" -> (() => MediaOps.pngEncode(1, 1, 0L)),
    "png 16x9 s7" -> (() => MediaOps.pngEncode(16, 9, 7L)),
    "png 77x1 s123456789" -> (() => MediaOps.pngEncode(77, 1, 123456789L)),
    "png 143x143 s4294967295" -> (() => MediaOps.pngEncode(143, 143, 4294967295L)),
    "pngHeader 1x1" -> (() => MediaOps.pngHeader(1, 1)),
    "pngHeader 143x143" -> (() => MediaOps.pngHeader(143, 143)),
    "pngHeader 4660x22136" -> (() => MediaOps.pngHeader(0x1234, 0x5678)),
    "gif 1x1 s0" -> (() => MediaOps.gifEncode(1, 1, 0L)),
    // 529 pixels: two LZW CLEARs past the first and three sub-blocks
    "gif 23x23 s99" -> (() => MediaOps.gifEncode(23, 23, 99L)),
    "gif frames 9x11x3 s5" -> (() => MediaOps.gifEncodeFrames(9, 11, 5L, 3)),
    "gif frames 40x30x2 s77" -> (() => MediaOps.gifEncodeFrames(40, 30, 77L, 2)),
    "wav mono 8000" -> (() => MediaOps.wavHeader(1, 8000, 100)),
    "wav stereo 44100" -> (() => MediaOps.wavHeader(2, 44100, 200)),
    "wav stereo 16000 short" -> (() => MediaOps.wavHeader(2, 16000, 44)),
    "mp4 640x480x90" -> (() => MediaOps.mp4Header(640, 480, 90)),
    "mp4 16x16x1" -> (() => MediaOps.mp4Header(16, 16, 1)),
    "mp4 65535x1x300" -> (() => MediaOps.mp4Header(0xFFFF, 1, 300)),
  ) ++ Seq(true, false).flatMap { c =>
    Seq(
      s"pdf single empty c=$c" -> (() => PdfWriter.singlePage("", c)),
      s"pdf single null c=$c" -> (() => PdfWriter.singlePage(null, c)),
      s"pdf single escapes c=$c" -> (() => PdfWriter.singlePage(escapes, c)),
      s"pdf single wide c=$c" -> (() => PdfWriter.singlePage(s"$wide\n$escapes\n", c)),
      s"pdf document 3 pages c=$c" ->
        (() => PdfWriter.document(Seq("page one", wide, escapes), c)),
      s"pdf document empty pages c=$c" -> (() => PdfWriter.document(Seq("", null), c)),
      s"pdf cmap runs c=$c" -> (() => PdfWriter.cmapPage(runs, c)),
      s"pdf cmap single c=$c" -> (() => PdfWriter.cmapPage("Z", c)),
      s"pdf cmap empty c=$c" -> (() => PdfWriter.cmapPage("", c)),
      s"pdf diff uni c=$c" -> (() => PdfWriter.diffPage(s"études — €5 $escapes", compress = c)),
      s"pdf diff agl c=$c" ->
        (() => PdfWriter.diffPage(s"études — €5 ⟶ $escapes", agl, compress = c)),
    )
  }

  private val expectedWriters: Map[String, String] = Map(
    "png 1x1 s0" ->
      "b1d450fdec856a5ca0aaaa41af9f6e5722ee5e4f0f473f24eb74a83ab9fdccec",
    "png 16x9 s7" ->
      "8b448a8487cb978783cfebd3ea490f6f131efc958d9eee3d21fe2b065db2f762",
    "png 77x1 s123456789" ->
      "be2fb22319c70a9dedd5f37bc5b48e930584e26d235930a032926f8aa1c07eb1",
    "png 143x143 s4294967295" ->
      "666f751531740e375bf1ecc097299259d448627ba0c63562b3fc279e06496931",
    "pngHeader 1x1" ->
      "9eaf66cb2ab9389f42744617015dfdbfa9a382221513149241ab355a2bd32ea4",
    "pngHeader 143x143" ->
      "bf35ae036bdf7fa5419ea716beb345789a62dcf9db35e1d7d479664f9bd6df58",
    "pngHeader 4660x22136" ->
      "2d0cf4431a8b905a9b1096bc18b2309cdafb4240f41a87945eeeb5acb5e95515",
    "gif 1x1 s0" ->
      "1f3fbaf7e5dea224d4b09728a5cdeef82f256db635426b67293cd422ffe84b9c",
    "gif 23x23 s99" ->
      "e9b464a5f56e7c0f5a9decb3dc29d5ee184a56d0c4849a841cb82548391353a5",
    "gif frames 9x11x3 s5" ->
      "5e941c01b24179177882a88f960a525f3545f39f1da075118a928887cc642a51",
    "gif frames 40x30x2 s77" ->
      "0eb974729af170e6df54ff82f0c6be872ae9a2591034376e61a9d7048d8238f0",
    "wav mono 8000" ->
      "733e1b87ff0647a21f06c409e046c8a6608b44a044a02f8a7208ab7aeccd5243",
    "wav stereo 44100" ->
      "cfceb02eb4e6ca42ab492ed943b4fe6eb16645ed228cdb11b6a371eabaef36bf",
    "wav stereo 16000 short" ->
      "79bfb4abe83f7baf910cd53c3e7c5707094a764c7d2426c0a735b66e0f74cc9e",
    "mp4 640x480x90" ->
      "54d83348d8afba64202ba387cd18a1e4f503f634090a44b9d387c17e4e51de2d",
    "mp4 16x16x1" ->
      "a4c835a11314d67df5bae731a5f24569e95ae567d908b94d026faaa13c070a8f",
    "mp4 65535x1x300" ->
      "d8ff890e6f0bbae82aa259b074ef981284fafcb0d9eabe6c26a52765d2f22cbc",
    "pdf single empty c=true" ->
      "61741d4218e8fa81d0062edf4aea97497598bb0ba4d6522616dc2db165e0ded5",
    "pdf single null c=true" ->
      "61741d4218e8fa81d0062edf4aea97497598bb0ba4d6522616dc2db165e0ded5",
    "pdf single escapes c=true" ->
      "85aad8c8c9c5a5baf6d34522fb070859f26e960ec51242f985934b6abdba6319",
    "pdf single wide c=true" ->
      "2b605ecc9d64e1a4a77972670f27f0399338363161f5bbc0611ecb99569f84c8",
    "pdf document 3 pages c=true" ->
      "e9bed00a8c9ca6c2b616bdf582cf6ab097cfa2b5b9f262716dc0facc022c9b01",
    "pdf document empty pages c=true" ->
      "42ae99cad6a664d445fa023218a57f15eadf2848daefb8179b929760467dacb9",
    "pdf cmap runs c=true" ->
      "0d2a137603e524116ee19b21960253208afb5df355c8a62914ce73290426c3d2",
    "pdf cmap single c=true" ->
      "cac24f6f93f7b83c25bfff0c601933554d87418402c0cfd2a8332707efa64229",
    "pdf cmap empty c=true" ->
      "ca92ede2751c86ee1d6cf6f638df510693fc77d98a6e0b21d580301646c88597",
    "pdf diff uni c=true" ->
      "4eb9bef900511dcbca85ca41187b19595e12e1a6e9409eccca270bbe3a917e4e",
    "pdf diff agl c=true" ->
      "3dbcc208678d3dcc0e3e8628ba6594ee5705ea511692c3305aaafb3c45d8d5bc",
    "pdf single empty c=false" ->
      "11c45c7fd3f2c924fd1ad054d939c0436e855a54f2c73022b9fb8e73d3f8762a",
    "pdf single null c=false" ->
      "11c45c7fd3f2c924fd1ad054d939c0436e855a54f2c73022b9fb8e73d3f8762a",
    "pdf single escapes c=false" ->
      "a6d0dbe1df52374b3b08a225888b8fc869972ef49eeb552bb4f407f8271ef132",
    "pdf single wide c=false" ->
      "13b82d8be15dd77d3afd69ee31d60c2a26f4d8789267aed563245df2b834db54",
    "pdf document 3 pages c=false" ->
      "b3fd87232588e1dbb88633546d6aadd286b19c9b51096a35fdf52935c6f62f27",
    "pdf document empty pages c=false" ->
      "4dff7b009f8e6cf82ec5d1d948de41a668647d2d34cf9cab557c28770ae978b7",
    "pdf cmap runs c=false" ->
      "fb901ee12203d66e104e7eed089050a5a9d7a5bf50ab40f65c857fb2540bc026",
    "pdf cmap single c=false" ->
      "b91f0fcf815a05b11d7f3b7323d412150eb1053a0a322b66be542595cb70899b",
    "pdf cmap empty c=false" ->
      "3d3e830dbee72bc83a43205365df622512c3582a848fded809b88686edd830bf",
    "pdf diff uni c=false" ->
      "23d54b039bd9c51521756bc27b17c3a7428005195de80cdd9f3324cdfdd8b1a0",
    "pdf diff agl c=false" ->
      "bd7a8e3274ff96694e9797b7f25973e3ec67bcb1f2b06e47d40212a51f0ce207",
  )

  test("every media and PDF writer's bytes equal the pinned digests") {
    checkDigests(writers, expectedWriters)
  }

  test("pngHeader(w, h) is the first 33 bytes of pngEncode(w, h, seed)") {
    for (w <- Seq(1, 16, 77, 143); h <- Seq(1, 9, 143); seed <- Seq(0L, 7L, 4294967295L))
      assert(MediaOps.pngHeader(w, h).toSeq == MediaOps.pngEncode(w, h, seed).take(33).toSeq,
        s"w=$w h=$h seed=$seed")
  }

  private val expectedAssets: Map[String, String] = Map(
    "syntheticAssets 0..89" ->
      "1fc1ecaad274acfe165fd98a288d35a240978c86e3a6e8e6c2cb1c1b8a5e6bf3",
    "syntheticVideos 0..89" ->
      "05dc38e43ea9db3da5ab0c58343f17fa77e5207548fc3ca727396363a352d44b",
  )

  test("synthetic asset and video tables' bytes equal the pinned digests") {
    import spark.implicits._
    val ids = (0 until 90).map(i => s"$i").toDF("doc_id")
    def table(rows: Array[MediaOps.MediaRow]): Array[Byte] =
      rows.sortBy(_.media_ref).flatMap(r =>
        s"${r.media_ref}\u0000${r.mime}\u0000".getBytes("UTF-8") ++ r.bytes)
    checkDigests(Seq(
      "syntheticAssets 0..89" -> (() => table(MediaOps.syntheticAssets(ids).collect())),
      "syntheticVideos 0..89" -> (() => table(MediaOps.syntheticVideos(ids).collect())),
    ), expectedAssets)
  }
}
