package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ParquetFile

/** The d126 interop pin, BOTH directions against Spark's own parquet
  * (parquet-mr): real Spark files — REQUIRED and OPTIONAL columns,
  * dictionary encoding, real page splits, all four codecs — walk
  * through our from-scratch reader with the stats audit passing; our
  * writer's files read back row-identical through spark.read.parquet. */
class ParquetInteropSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.get

  private def rowsFor(n: Int, seed: Long): Seq[(Long, Long, String)] =
    (0 until n).map(j => (seed * 1000 + j, (seed * 7 + j * 13) % 5,
      s"text body $seed/$j " + ("x" * (j % 17))))

  test("our walker reads REAL Spark files: every codec, dictionary pages, audit ON") {
    import spark.implicits._
    val dir = SparkTestSession.tmpDir("pq126spec").toFile
    // tuple-derived schema: REQUIRED longs + OPTIONAL string — both
    // definition-level paths; val is low-cardinality → dictionary
    val rows = rowsFor(300, 7)
    val df = rows.toDF("doc_id", "val", "text")
    for (codec <- Seq("uncompressed", "snappy", "gzip", "zstd")) {
      val p = new java.io.File(dir, s"spark-$codec")
      df.coalesce(1).write.option("compression", codec)
        .mode("overwrite").parquet(p.toString)
      val f = p.listFiles().filter(_.getName.endsWith(".parquet")).head
      val info = ParquetFile.read(java.nio.file.Files.readAllBytes(f.toPath))
      assert(info.nonEmpty, s"$codec: quarantined a real Spark file")
      assert(info.get.numRows == 300)
      assert(info.get.cols.find(_.path == "doc_id").get.sumInt ==
        rows.map(_._1).sum, s"$codec: doc_id sum")
      assert(info.get.cols.find(_.path == "val").get.sumInt ==
        rows.map(_._2).sum, s"$codec: val sum (dictionary decode)")
      assert(info.get.cols.find(_.path == "text").get.byteLen ==
        rows.map(_._3.getBytes("UTF-8").length.toLong).sum, s"$codec: text bytes")
    }
  }

  test("page CRCs: real parquet-mr checksums verify; a flipped page byte with sizes intact quarantines") {
    // the read-real-files test above already runs with CRC verify ON
    // (parquet-mr writes page checksums by default) - this pins the
    // flip class the CRC exists for: one bit in a page BODY, every
    // size and statistic field untouched
    val rows = rowsFor(40, 5)
    val bytes = ParquetFile.write(rows, rowGroupCut = 16, codec = 0)
    assert(ParquetFile.read(bytes).isDefined)
    // flip one byte inside the first page's values region (past the
    // footer-magic prefix and the first page header, before stats)
    var caught = 0
    (60 until math.min(400, bytes.length - 100)).foreach { i =>
      val bad = bytes.clone()
      bad(i) = (bad(i) ^ 0x04).toByte
      if (ParquetFile.read(bad).isEmpty) caught += 1
    }
    // every flip in that span must be caught by SOMETHING (crc, tiling,
    // stats, thrift grammar) - none may silently pass
    assert(caught == math.min(400, bytes.length - 100) - 60,
      s"a flipped byte slipped through ($caught caught)")
  }

  test("Spark reads our writer's files row-identical: every codec") {
    val dir = SparkTestSession.tmpDir("pq126spec2").toFile
    for (codec <- Seq(0, 1, 2, 6)) {
      val p = new java.io.File(dir, s"ours-$codec/part-0.parquet")
      p.getParentFile.mkdirs()
      val want = rowsFor(50, 3).sortBy(_._1)
      java.nio.file.Files.write(p.toPath, ParquetFile.write(want, 7, codec))
      val got = spark.read.parquet(p.getParent).orderBy("doc_id").collect()
      assert(got.length == 50, s"codec $codec: row count")
      got.zip(want).foreach { case (r, w) =>
        assert(r.getLong(0) == w._1 && r.getLong(1) == w._2 &&
          r.getString(2) == w._3, s"codec $codec: row mismatch")
      }
    }
  }

  // ---- d135: DATA_PAGE_V2 + the DELTA encodings ---------------------

  test("d135: DELTA_BINARY_PACKED roundtrips across shapes, strict tiling") {
    import graft.operators.ParquetCodec
    val rnd = new java.util.Random(5)
    for (shape <- Seq(
        Array(42L), Array.empty[Long], (0 until 500).map(_.toLong * 3).toArray,
        Array.fill(300)(rnd.nextLong() >> 20),
        (0 until 129).map(j => j.toLong * j - 500).toArray,
        Array.fill(7)(-9L))) {
      val enc = ParquetCodec.dbpEncode(shape)
      val (dec, endP) = ParquetCodec.dbpDecode(enc, 0, enc.length, shape.length)
      assert(endP == enc.length, s"spare bytes at len=${shape.length}")
      assert(dec.sameElements(shape), s"mismatch at len=${shape.length}")
    }
    val good = ParquetCodec.dbpEncode(Array(1L, 5L, 2L))
    assertThrows[Throwable](
      ParquetCodec.dbpDecode(good, 0, good.length, 4)) // count disagrees
  }

  test("d135: the v2 sim walks clean and all three damage classes quarantine") {
    import graft.operators.{ParquetSim, ParquetV2Sim}
    val text = "The quick brown fox jumps over the lazy dog πéü𝄞 again. " * 4
    for (docId <- Seq(1L, 2L, 4L, 6L, 8L, 9L, 11L)) {
      val info = ParquetFile.read(ParquetV2Sim.payloadFor(docId, text))
      assert(info.nonEmpty, s"doc $docId clean v2 quarantined")
      val k = ParquetSim.nRows(docId)
      assert(info.get.numRows == k)
      assert(info.get.cols.find(_.path == "doc_id").get.sumInt ==
        (0 until k).map(docId * 1000 + _).sum)
      assert(info.get.cols.find(_.path == "text").get.byteLen ==
        text.getBytes("UTF-8").length)
    }
    for (docId <- Seq(0L, 7L, 3L, 10L, 5L, 12L))
      assert(ParquetFile.read(ParquetV2Sim.payloadFor(docId, text)).isEmpty,
        s"doc $docId class ${docId % 7} must quarantine")
  }

  test("d135 interop: our reader walks REAL Spark v2 files (DELTA encodings, all codecs), audit ON") {
    import spark.implicits._
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("parquet.writer.version", "v2")
    try {
      val n = 3000
      val df = (0 until n).map(j => (j.toLong * 3, (j * 13 % 50).toLong,
        s"body-$j-" + ("x" * (j % 29)))).toDF("doc_id", "val", "text")
      for (codec <- Seq("uncompressed", "snappy", "gzip", "zstd")) {
        val dir = SparkTestSession.tmpDir(s"pq135-$codec").toFile
        df.coalesce(1).write.option("compression", codec).mode("overwrite")
          .parquet(dir.toString)
        val f = dir.listFiles().filter(_.getName.endsWith(".parquet")).head
        val info = ParquetFile.read(java.nio.file.Files.readAllBytes(f.toPath))
        assert(info.nonEmpty, s"$codec: quarantined a Spark v2 file")
        assert(info.get.numRows == n)
        assert(info.get.cols.find(_.path == "doc_id").get.sumInt ==
          (0 until n).map(_.toLong * 3).sum, s"$codec: doc_id sum")
        assert(info.get.cols.find(_.path == "text").get.byteLen ==
          (0 until n).map(j => s"body-$j-".length.toLong + (j % 29)).sum,
          s"$codec: text bytes")
      }
    } finally hc.unset("parquet.writer.version")
  }

  // ---- d138: split-block bloom filters --------------------------------

  test("d138: the bloom sim walks clean; truncation/stat-lie/cleared-bit all quarantine") {
    import graft.operators.{ParquetBloomSim, ParquetSim}
    val text = "Sphinx of black quartz judge my vow πé. " * 5
    for (docId <- Seq(1L, 2L, 4L, 6L, 8L, 9L, 11L)) {
      val info = ParquetFile.read(ParquetBloomSim.payloadFor(docId, text))
      assert(info.nonEmpty, s"doc $docId clean bloom file quarantined")
      assert(info.get.numRows == ParquetSim.nRows(docId))
    }
    for (docId <- Seq(0L, 7L, 3L, 10L, 5L, 12L, 19L))
      assert(ParquetFile.read(ParquetBloomSim.payloadFor(docId, text)).isEmpty,
        s"doc $docId class ${docId % 7} must quarantine")
    // bloomless d126/d135 files are unaffected by the audit's presence
    assert(ParquetFile.read(ParquetSim.payloadFor(1L, text)).nonEmpty)
  }

  test("d138 interop: parquet-mr's real bloom filters pass our membership audit value-for-value") {
    import spark.implicits._
    val n = 2000
    val df = (0 until n).map(j => (j.toLong * 7919, (j % 997).toLong, s"t-$j"))
      .toDF("doc_id", "val", "text")
    val dir = SparkTestSession.tmpDir("pq138").toFile
    df.coalesce(1).write
      .option("parquet.bloom.filter.enabled#doc_id", "true")
      .option("parquet.bloom.filter.enabled#val", "true")
      .option("compression", "snappy")
      .mode("overwrite").parquet(dir.toString)
    val f = dir.listFiles().filter(_.getName.endsWith(".parquet")).head
    val info = ParquetFile.read(java.nio.file.Files.readAllBytes(f.toPath))
    assert(info.nonEmpty, "quarantined a real Spark bloom file")
    assert(info.get.numRows == n)
    // and Spark reads our bloom-carrying files back row-identical
    val want = rowsFor(40, 5).sortBy(_._1)
    val dir2 = SparkTestSession.tmpDir("pq138o")
    java.nio.file.Files.write(dir2.resolve("p.parquet"),
      ParquetFile.write(want, 7, 0, blooms = true))
    val got = spark.read.parquet(dir2.toString).orderBy("doc_id").collect()
    assert(got.length == 40)
    got.zip(want).foreach { case (r, w) =>
      assert(r.getLong(0) == w._1 && r.getLong(1) == w._2 && r.getString(2) == w._3)
    }
  }

  test("d135 interop: Spark reads our v2 writer's files row-identical") {
    val want = rowsFor(50, 3).sortBy(_._1)
    for (codec <- Seq(0, 1, 2, 6)) {
      val dir = SparkTestSession.tmpDir(s"pq135o-$codec")
      java.nio.file.Files.write(dir.resolve("part-0.parquet"),
        ParquetFile.writeV2(want, 7, codec))
      val got = spark.read.parquet(dir.toString).orderBy("doc_id").collect()
      assert(got.length == 50, s"codec $codec: row count")
      got.zip(want).foreach { case (r, w) =>
        assert(r.getLong(0) == w._1 && r.getLong(1) == w._2 &&
          r.getString(2) == w._3, s"codec $codec: row mismatch")
      }
    }
  }
}
