package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{PqOps, SqOps, VectorOps}
import graft.queries.Tables.embeddings

/** One cell-partitioned vector index family (IVF, IVF-SQ8, IVF-PQ):
  *  - `stem`: the artifact path stem, model identity included
  *    (`ivfpq_m8_k256`) — a stored m=8 codebook must never serve an
  *    m=4 request, and the flat-codebook length check alone is
  *    m-invariant (m·k·(dim/m) == k·dim);
  *  - `model`: train-or-load of the FROZEN model the codes are encoded
  *    with (SQ8 `(mins, steps)`, PQ `(codebook, dim)`; the dense family
  *    has none). Cell-independent by construction — cell geometry
  *    changes where a code LIVES, never what it IS — so every
  *    generation, retrained ones included, reuses it verbatim;
  *  - `payload`: `(vec_id, cell, embedding)` rows → the stored columns
  *    (`embedding` itself, or a narrow encode kernel into `code`).
  */
final case class CellFamily[M](stem: String,
    model: (SparkSession, String) => M,
    payload: (M, DataFrame) => DataFrame)

/** One served generation: the centroids its cells were assigned
  * against, the family's frozen model, and the cell-partitioned frames
  * a probe reads — base ∪ delta is two frames (each keeps its own
  * dynamic-partition-pruning filter), every rewritten generation one. */
final case class CellGen[M](centroids: DataFrame, model: M,
    frames: Seq[DataFrame])

/** THE LSM lifecycle of the cell-partitioned vector indexes, each verb
  * written once for every family:
  *
  *  - [[base]]: the indexed corpus (embeddings ∪ canary twins) assigned
  *    against the trained centroids, stored `partitionBy("cell")` — the
  *    inverted-file layout a probe DPP-prunes at the scan;
  *  - [[delta]]: the landing batch assigned against the FROZEN
  *    centroids and encoded with the FROZEN model (retraining either
  *    would desynchronize the running index), written NEXT TO the base;
  *  - [[compact]]: base ∪ delta rewritten VERBATIM into gen2 — a pure
  *    layout job, no re-assign, no re-encode;
  *  - [[purge]]: the base minus the stored tombstones, rewritten — the
  *    physical half of deletion, no mask left in the serve;
  *  - [[retrain]]: when [[Ingest.retrainOnDrift]] trips on the served
  *    base ∪ delta, gen3 is the live corpus re-assigned against NEW
  *    centroids (codes re-derived bit-identically with the frozen model).
  *
  * Every path is `<stem>_<generation>_c<cells>`: nCells ≈ √N is part of
  * the identity, or a different geometry would silently reuse a stored
  * one. Every write goes through [[Artifacts.buildGate]] (commit marker
  * + per-path lock against racing pool threads), old generations are
  * never touched (in-flight readers keep their snapshot), and a
  * committed generation is served without re-deciding — generations are
  * monotone.
  */
object CellIndex {

  type SqModel = (Array[Float], Array[Float])
  type PqModel = (Array[Float], Int)

  val Ivf: CellFamily[Unit] =
    CellFamily("ivf", (s, _) => VectorOps.register(s), (_, rows) => rows)

  val Sq: CellFamily[SqModel] = CellFamily("ivfsq",
    (s, dir) => Ingest.ensureSqModel(s, dir),
    { case ((mins, steps), rows) => rows.select(col("vec_id"), col("cell"),
        SqOps.encode(col("embedding"), mins, steps).as("code")) })

  def pq(m: Int = 8, kCent: Int = 256): CellFamily[PqModel] =
    CellFamily(s"ivfpq_m${m}_k$kCent",
      (s, dir) => { PqOps.register(s); Ingest.ensurePqCodebook(s, dir, m, kCent) },
      { case ((cb, _), rows) => rows.select(col("vec_id"), col("cell"),
          PqOps.encode(col("embedding"), cb, m, kCent).as("code")) })

  val Pq: CellFamily[PqModel] = pq()

  private def cells(s: SparkSession, dir: String): Int =
    Similarity.ivfNumCells(Ingest.embeddingCount(s, dir))

  private def path(s: SparkSession, dir: String, stem: String,
      generation: String): String =
    Artifacts.scratch(s, dir, s"${stem}_${generation}_c${cells(s, dir)}")

  /** The one cell-partitioned writer. Repartitioning on the partition
    * column first makes each write task own whole cells, so the layout
    * is nCells files instead of nCells × shuffle.partitions fragments
    * (the small-files problem that kills object-store listings at
    * scale); assignment and encode are narrow kernels, so this
    * repartition is the only exchange of any build. */
  private def written(s: SparkSession, path: String)(rows: => DataFrame): DataFrame = {
    Artifacts.buildGate(s, path) {
      rows.repartition(col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(path)
    }
    Artifacts.readCommitted(s, path)
  }

  /** The coarse quantizer every family shares: TRAINED centroids (3
    * Lloyd passes) over the indexed corpus, not raw seed vectors — seed
    * "centroids" are arbitrary corpus rows that scatter near-neighbors
    * across cells at the √N geometry. Training is eager (each Lloyd
    * pass checkpoints), so it runs only inside the cold gate. */
  private def centroids(s: SparkSession, dir: String): DataFrame = {
    val p = path(s, dir, Ivf.stem, "centroids")
    Artifacts.buildGate(s, p) {
      Similarity.kmeansCentroids(Ingest.indexedCorpus(s, dir), cells(s, dir))
        .write.mode("overwrite").parquet(p)
    }
    Artifacts.readCommitted(s, p)
  }

  def base[M](s: SparkSession, dir: String, fam: CellFamily[M]): CellGen[M] =
    graft.BuildTimer.time {
      val model = fam.model(s, dir)
      val cents = centroids(s, dir)
      CellGen(cents, model, Seq(written(s, path(s, dir, fam.stem, "base"))(
        fam.payload(model,
          Similarity.ivfAssignKernel(Ingest.indexedCorpus(s, dir), cents)))))
    }

  def delta[M](s: SparkSession, dir: String, fam: CellFamily[M]): CellGen[M] =
    graft.BuildTimer.time {
      val b = base(s, dir, fam)
      b.copy(frames = b.frames :+ written(s, path(s, dir, fam.stem, "delta"))(
        fam.payload(b.model, Similarity.ivfAssignKernel(
          Ingest.appendBatch(embeddings(s, dir)), b.centroids))))
    }

  def compact[M](s: SparkSession, dir: String, fam: CellFamily[M]): CellGen[M] =
    graft.BuildTimer.time {
      val d = delta(s, dir, fam)
      d.copy(frames = Seq(written(s, path(s, dir, fam.stem, "gen2"))(
        d.frames.reduce(_.unionByName(_)))))
    }

  def purge[M](s: SparkSession, dir: String, fam: CellFamily[M]): CellGen[M] =
    graft.BuildTimer.time {
      val b = base(s, dir, fam)
      b.copy(frames = Seq(written(s, path(s, dir, fam.stem, "purged"))(
        b.frames.head.join(broadcast(Ingest.ensureVecForgetSet(s, dir)),
          Seq("vec_id"), "left_anti"))))
    }

  /** Below `skewThreshold` the served base ∪ delta generation returns
    * untouched. The decision AND the gen3 write run inside one
    * [[Artifacts.buildGate]] on the centroid path, whose marker commits
    * LAST (after the payload), so racing cold callers write one gen3 and
    * all serve it. */
  def retrain[M](s: SparkSession, dir: String, fam: CellFamily[M],
      skewThreshold: Double = 4.0): CellGen[M] = graft.BuildTimer.time {
    val d = delta(s, dir, fam)
    val cPath = path(s, dir, fam.stem, "gen3_centroids")
    val gPath = path(s, dir, fam.stem, "gen3")
    Artifacts.buildGate(s, cPath) {
      val live = Ingest.grownCorpus(s, dir)
      val (newCents, _, retrained) =
        Ingest.retrainOnDrift(live, d.centroids, skewThreshold)
      if (retrained) {
        written(s, gPath)(
          fam.payload(d.model, Similarity.ivfAssignKernel(live, newCents)))
        newCents.write.mode("overwrite").parquet(cPath)
      }
    }
    if (!Artifacts.committed(s, cPath)) d
    else CellGen(Artifacts.readCommitted(s, cPath), d.model,
      Seq(Artifacts.readCommitted(s, gPath)))
  }
}
