package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, hex}

import graft.operators.CellIndex

/** The cell-partitioned generation lifecycle under racing cold callers:
  * composed queries construct their arms on pool threads, so two
  * threads can reach the same cold `retrain` together. The decision and
  * the gen3 write must run once, under the per-path build lock, and
  * both callers must serve that one generation. */
class CellIndexSpec extends SparkSpecBase {

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.delete(f))

  test("concurrent cold retrain commits ONE gen3 and both callers serve it") {
    val dir = TestSpark.Sf0001
    val root = Files.createTempDirectory("graft_cold_retrain")
    val prev = spark.conf.getOption("graft.scratch")
    spark.conf.set("graft.scratch", root.toString)
    try {
      val Seq(a, b) = Par.run(spark.sparkContext, Seq.fill(2)(() =>
        CellIndex.retrain(spark, dir, CellIndex.Sq, skewThreshold = 0.0)))
      def codes(frames: Seq[DataFrame]): DataFrame = frames
        .map(_.select(col("vec_id"), hex(col("code")).as("code")))
        .reduce(_.unionByName(_))
      def rows(df: DataFrame): Set[Seq[Any]] =
        df.collect().map(_.toSeq).toSet
      // threshold 0 forces the drift response: both serve ONE gen3 frame
      assert(a.frames.size == 1 && b.frames.size == 1,
        "threshold 0 must serve the retrained gen3, not base ∪ delta")
      assert(rows(a.centroids) == rows(b.centroids),
        "racing callers must serve the same gen3 centroids")
      assert(rows(codes(a.frames)) == rows(codes(b.frames)),
        "racing callers must serve the same gen3 codes")
      // exactly one committed gen3 centroid/code pair under the fresh root
      val app = root.resolve(spark.sparkContext.applicationId)
      def committedDirs(pattern: String): Seq[String] =
        Files.list(app).iterator().asScala.toSeq
          .map(_.getFileName.toString)
          .filter(n => n.matches(pattern) &&
            Files.exists(app.resolve(n).resolve("_SUCCESS")))
      assert(committedDirs("ivfsq_gen3_centroids_c\\d+_.*").size == 1)
      assert(committedDirs("ivfsq_gen3_c\\d+_.*").size == 1)
      // neither write ran twice into its directory: one centroid row per
      // cell, one code row per served vector
      val nCells = a.centroids.count()
      assert(nCells > 0 && a.centroids.select("cid").distinct().count() == nCells)
      val g3 = codes(a.frames)
      val served = codes(CellIndex.delta(spark, dir, CellIndex.Sq).frames)
      assert(g3.count() == served.count())
      // the frozen model re-derives every code bit-identically
      // (n_code_diverging = 0)
      assert(g3.exceptAll(served).isEmpty && served.exceptAll(g3).isEmpty,
        "gen3 codes must equal the served base ∪ delta codes")
    } finally {
      prev.fold(spark.conf.unset("graft.scratch"))(spark.conf.set("graft.scratch", _))
      deleteTree(root)
    }
  }
}
