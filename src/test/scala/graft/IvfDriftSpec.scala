package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** d174: the drift report's arithmetic and the rebuild rule — on an
  * iid append the verdict stays quiet; on a PLANTED drift (every new
  * vector forced into one cell's region) the rule bites. */
class IvfDriftSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.get

  private def vecs(ids: Seq[Long], f: Long => Seq[Float]) = {
    import spark.implicits._
    ids.map(i => (i, f(i))).toDF("vec_id", "embedding")
  }

  // two well-separated blobs on the unit circle axes, 4 dims
  private def blob(i: Long): Seq[Float] = {
    val axis = (i % 2).toInt // alternating membership
    val eps = ((i % 7) - 3) / 100.0f
    Seq.tabulate(4)(d =>
      (if (d == axis) 1.0f else 0.0f) + (if (d == 2) eps else 0.0f))
  }

  test("report: counts cover the index, ratios floor at 1, dists bounded") {
    val dir = SparkTestSession.tmpDir("ivfdrift1").toString
    val e = vecs(0L until 64L, blob)
    val cents = Similarity.trainIvfCentroids(e, nCells = 4, kmeansIters = 3)
    Similarity.writeIvfIndex(e, dir, nCells = 4, centroids = Some(cents))
    val rep = Similarity.ivfDriftReport(spark, dir).collect()
    assert(rep.map(_.getAs[Long]("n")).sum == 64L)
    // nCells in size_ratio comes from the stored centroid count (4)
    val ratios = rep.map(_.getAs[Double]("size_ratio"))
    assert(ratios.max >= 1.0 - 1e-9, "pigeonhole floor")
    rep.foreach { r =>
      val d = r.getAs[Double]("mean_dist")
      assert(d >= -1e-9 && d <= 2.0 + 1e-9)
    }
  }

  test("iid append stays under the shift threshold; planted drift trips the rule") {
    val base = SparkTestSession.tmpDir("ivfdrift_b").toString
    val app = SparkTestSession.tmpDir("ivfdrift_a").toString
    val skew = SparkTestSession.tmpDir("ivfdrift_s").toString
    val e = vecs(0L until 64L, blob)
    val cents = Similarity.trainIvfCentroids(e, nCells = 4, kmeansIters = 3)
    Similarity.writeIvfIndex(e, base, nCells = 4, centroids = Some(cents))
    Similarity.writeIvfIndex(e, app, nCells = 4, centroids = Some(cents))
    // iid-ish append: the same two-blob distribution continues
    Similarity.appendIvfIndex(spark, app,
      vecs(100L until 116L, blob))
    val quiet = Similarity.ivfDriftVerdict(
      Similarity.ivfDriftReport(spark, base),
      Similarity.ivfDriftReport(spark, app),
      maxShift = 0.10).collect()(0)
    assert(quiet.getAs[Boolean]("dists_bounded"))
    assert(quiet.getAs[Boolean]("skew_floor_holds"))
    assert(!quiet.getAs[Boolean]("rebuild_recommended"),
      "a distribution-preserving append must not demand a rebuild")
    // planted drift: EVERY new vector lands in blob-0's region —
    // that cell's share balloons past the documented thresholds
    Similarity.writeIvfIndex(e, skew, nCells = 4, centroids = Some(cents))
    Similarity.appendIvfIndex(spark, skew,
      vecs(200L until 264L, i =>
        Seq(1.0f, 0.0f, ((i % 5) - 2) / 100.0f, 0.0f)))
    val loud = Similarity.ivfDriftVerdict(
      Similarity.ivfDriftReport(spark, base),
      Similarity.ivfDriftReport(spark, skew)).collect()(0)
    assert(loud.getAs[Boolean]("rebuild_recommended"),
      "a one-cell flood must trip the rebuild rule")
  }

  test("stale resident centroids are rejected by the probe paths (r17 guard)") {
    val old = SparkTestSession.tmpDir("ivffp_old").toString
    val reb = SparkTestSession.tmpDir("ivffp_reb").toString
    val e = vecs(0L until 64L, blob)
    val cents = Similarity.trainIvfCentroids(e, nCells = 4, kmeansIters = 3)
    Similarity.writeIvfIndex(e, old, nCells = 4, centroids = Some(cents))
    // the index is REBUILT with retrained centroids (more data, more
    // iters -> different cell state) while a probe service still holds
    // the old resident state
    val retrained = Similarity.trainIvfCentroids(
      vecs(0L until 128L, blob), nCells = 4, kmeansIters = 5)
    assert(cents.flatten.toSeq != retrained.flatten.toSeq,
      "fixture needs genuinely different centroids")
    Similarity.writeIvfIndex(e, reb, nCells = 4, centroids = Some(retrained))
    val q = vecs(0L until 4L, blob)
    // matching state probes fine
    assert(Similarity.ivfTopKFromIndex(spark, reb, q, k = 3,
      centroids = Some(retrained)).count() > 0)
    // stale state fails loudly on every probe path instead of
    // silently returning wrong neighbors
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKFromIndex(spark, reb, q, k = 3,
        centroids = Some(cents)).count()
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfDriftReport(spark, reb, Some(cents)).count()
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfAppendVerdict(spark, old, reb, q, k = 3,
        centroids = Some(cents)).count()
    }
    // and the None path of the append verdict (base's state probes the
    // full index) is guarded by the same fingerprint
    intercept[IllegalArgumentException] {
      Similarity.ivfAppendVerdict(spark, old, reb, q, k = 3).count()
    }
  }

  test("a rebuild whose fingerprint write fails leaves no stale sidecar and warns") {
    val dir = SparkTestSession.tmpDir("ivffp_fail").toString
    val fp = java.nio.file.Paths.get(dir, "centroids.fp")
    val e = vecs(0L until 64L, blob)
    val cents = Similarity.trainIvfCentroids(e, nCells = 4, kmeansIters = 3)
    Similarity.writeIvfIndex(e, dir, nCells = 4, centroids = Some(cents))
    assert(java.nio.file.Files.exists(fp))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "centroids.fp.tmp")),
      "a written sidecar leaves no temp file behind")
    val retrained = Similarity.trainIvfCentroids(
      vecs(0L until 128L, blob), nCells = 4, kmeansIters = 5)
    // a non-empty directory where the temp sidecar goes: the write fails
    val blocker = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir, "centroids.fp.tmp", "x"))
    val err = new java.io.ByteArrayOutputStream()
    val sysErr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    try Similarity.writeIvfIndex(e, dir, nCells = 4, centroids = Some(retrained))
    finally System.setErr(sysErr)
    assert(err.toString.contains("no centroid fingerprint written"), err.toString)
    // the old fingerprint is gone: it would reject the index's own
    // centroids and pass the stale ones
    assert(!java.nio.file.Files.exists(fp))
    assert(Similarity.ivfTopKFromIndex(spark, dir, vecs(0L until 4L, blob), k = 3,
      centroids = Some(Similarity.readIvfCentroids(spark, dir))).count() > 0)
    // the next successful rebuild writes it again
    java.nio.file.Files.delete(blocker)
    java.nio.file.Files.delete(blocker.getParent)
    Similarity.writeIvfIndex(e, dir, nCells = 4, centroids = Some(retrained))
    assert(java.nio.file.Files.exists(fp))
  }
}
