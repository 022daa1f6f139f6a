package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.OpsQueries
import graft.kg._
import graft.ops.{Cooccurrence, Dedup, DedupAccess}

/** What one batch produced: the rows it emitted, a digest of its outputs
  * (for comparing traced against untraced batches), extra per-batch
  * timings, and the ratio metrics a traced batch measures.
  */
final case class BatchOut(rows: Long, digest: String,
    extra: Map[String, Double] = Map.empty)

/** A batch whose output differs from the expected one. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

trait Workload {
  def name: String
  /** Materialize this run's inputs under `dir`, `files` files a table. */
  def setup(spark: SparkSession, seed: Long, dir: String, files: Int): Unit
  /** One closed-loop batch, checked against the expected output; throws
    * [[CheckFailed]] on a mismatch. With a tracer, every layer call runs in
    * its own span and its output is forced inside that span.
    */
  def batch(spark: SparkSession, scratch: String, tracer: Option[Tracer]): BatchOut
}

object Workloads {
  /** The workloads a run can name, as listed in BENCHMARK.json. */
  val all: Seq[Workload] = Seq(
    new KgCheckpointed("kg_checkpointed", CorpusGen.Small),
    new OpsDedup("ops_dedup"))

  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))

  def check(what: String, got: Digest, want: Digest): Unit =
    if (got != want) throw new CheckFailed(s"$what: digest $got, expected $want")

  private[perfbench] def delete(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  private[perfbench] def sizeMb(spark: SparkSession, dir: String): Double = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength / (1024.0 * 1024.0) else 0.0
  }
}

/** The kg ratio metrics of a traced batch, from its span row counts and
  * the persisted alignments.
  */
private object KgRatios {
  def apply(t: Tracer, aligned: DataFrame): Map[String, Double] = {
    val snap = t.snapshot()
    val nAligned = aligned.filter(col("is_alignment")).count().toDouble
    Map("CandidateGen.topK.kept_ratio" ->
        snap("CandidateGen.topK").rowsOut.toDouble / snap("CandidateGen.rollupAll").rowsOut,
      "Scorer.score.aligned_ratio" -> nAligned / snap("Scorer.score").rowsOut)
  }
}

/** `Pipeline.run` into a fresh root whose input stages hold the generated
  * inputs, then a second `run` that resumes over the completed root. Both
  * must return the ScalarOracle's triples.
  */
final class KgCheckpointed(val name: String, val scale: CorpusGen.Scale) extends Workload {
  private val conf = Pipeline.confFor(scale)
  /** Pipeline.run's parameter fingerprint for this scale. */
  private val params = s"$scale|$conf"
  private var in: Inputs.Kg = _
  private var n = 0

  def setup(spark: SparkSession, seed: Long, dir: String, files: Int): Unit =
    in = Inputs.kg(spark, scale, seed, dir, files)

  /** A fresh root with the input stages already complete, so Pipeline.run
    * reads the generated inputs instead of synthesizing its own.
    */
  private def seededRoot(spark: SparkSession, scratch: String): String = {
    n += 1
    val root = s"$scratch/ckpt-$n"
    val hc = spark.sparkContext.hadoopConfiguration
    for (s <- Inputs.KgStages) {
      val src = new Path(in.tables(s))
      val dst = new Path(Checkpoint.stageDir(root, s))
      val fs = src.getFileSystem(hc)
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, hc)
      val out = fs.create(new Path(dst, "_params.txt"), true)
      try out.write(params.getBytes("UTF-8")) finally out.close()
    }
    root
  }

  private def inputsRegenerated(spark: SparkSession, root: String): Boolean = {
    val p = new Path(s"$root/_checkpoint/stage=corpus")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  def batch(spark: SparkSession, scratch: String, tracer: Option[Tracer]): BatchOut = {
    val want = Pins.kg(scale)
    val root = seededRoot(spark, scratch)
    try {
      val (fresh, measured) = tracer match {
        case None =>
          (Digest.triples(Pipeline.run(spark, scale, root).triples), Map.empty[String, Double])
        case Some(t) => traced(spark, root, t)
      }
      if (inputsRegenerated(spark, root))
        throw new CheckFailed("Pipeline.run regenerated the seeded input stages")
      Workloads.check(s"${scale.name} fresh-run triples", fresh, want)
      val t0 = System.nanoTime()
      val resumed = tracer match {
        case None => Digest.triples(Pipeline.run(spark, scale, root).triples)
        case Some(t) => t.span("Pipeline.run.resume") {
          val d = Digest.triples(Pipeline.run(spark, scale, root).triples)
          t.rows("Pipeline.run.resume", d.rows)
          d
        }
      }
      val resumeS = (System.nanoTime() - t0) / 1e9
      Workloads.check(s"${scale.name} resumed triples", resumed, fresh)
      BatchOut(fresh.rows + resumed.rows, fresh.toString,
        measured + ("resume_s" -> resumeS))
    } finally {
      spark.catalog.clearCache()
      Workloads.delete(spark, root)
    }
  }

  /** Pipeline.run's stage order: each layer call runs in its own span with
    * its output persisted and forced there, then Checkpoint.stage writes it
    * (and reads it back) in the "Checkpoint.stage" span. Unlike run(), the
    * dims are built in their own span and handed to Scorer.score, as
    * compute() does.
    */
  private def traced(spark: SparkSession, root: String, t: Tracer)
      : (Digest, Map[String, Double]) = {
    var held = List.empty[DataFrame]
    def layer(span: String)(df: => DataFrame): DataFrame = t.span(span) {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      held ::= p
      t.rows(span, Tracer.force(p))
      p
    }
    def stage(name: String, parts: Seq[String] = Nil)(body: => DataFrame): DataFrame =
      t.span("Checkpoint.stage")(Checkpoint.stage(spark, root, name, parts, params)(body))
    def input(name: String): DataFrame =
      stage(name)(throw new CheckFailed(s"input stage $name is not seeded"))
    val inputMb = Inputs.KgStages.map(s => Workloads.sizeMb(spark, Checkpoint.stageDir(root, s))).sum
    try {
      val repos = input("corpus")
      val entities = input("entities")
      val accounts = input("accounts")
      val scan = stage("scan")(layer("Scan.products")(Scan.products(repos)))
      val dict = stage("dictionary")(layer("Dictionary.build")(
        Dictionary.build(spark, Scan.mentions(scan), accounts)))
      val accEmb = input("account_embeddings")
      val entEmb = input("entity_embeddings")
      val cands = stage("candidates") {
        val rollup = layer("CandidateGen.rollupAll")(
          CandidateGen.rollupAll(spark, entities, dict, conf))
        layer("CandidateGen.topK")(CandidateGen.topK(rollup, conf))
      }
      val aligned = stage("alignments") {
        val dims = t.span("Scorer.dims") {
          val (acc, ent) = Scorer.dims(entities, accounts, scan, accEmb, entEmb)
          t.rows("Scorer.dims", Tracer.force(acc) + Tracer.force(ent))
          (acc, ent)
        }
        layer("Scorer.score")(Scorer.score(cands, entities, accounts, scan,
          accEmb, entEmb, conf, prebuiltDims = Some(dims)))
      }
      val reps = stage("representatives")(layer("Canonicalize.representatives")(
        Canonicalize.representatives(spark, aligned, conf)))
      val triples = stage("triples", Seq("pred"))(layer("Triples.materialize")(
        Triples.materialize(aligned, reps)))
      stage("lineage")(scan.select(col("repo"), col("path"), col("commit"),
        col("content_sha")).distinct())
      val d = Digest.triples(triples)
      (d, t.post(KgRatios(t, aligned) +
        ("Checkpoint.write_mb" -> (Workloads.sizeMb(spark, root) - inputMb))))
    } finally held.foreach(_.unpersist())
  }
}

/** One pass of the dedup-family operators and the co-occurrence counter,
  * with the arguments OpsQueries uses; each output must equal its
  * pinned digest.
  */
final class OpsDedup(val name: String) extends Workload {
  private var in: Inputs.Ops = _

  def setup(spark: SparkSession, seed: Long, dir: String, files: Int): Unit =
    in = Inputs.ops(spark, seed, dir, files)

  /** (span, output columns, operator call) for each operator of the pass. */
  def calls: Seq[(String, Seq[String], () => DataFrame)] = {
    val docs = in.documents
    Seq(
      ("Dedup.minhashNearDups", Seq("doc_a", "doc_b", "jaccard"),
        () => Dedup.minhashNearDups(docs)),
      ("Dedup.ngramJaccard", Seq("doc_a", "doc_b", "jaccard"),
        () => Dedup.ngramJaccard(docs)),
      ("Dedup.embeddingNearDups", Seq("vec_a", "vec_b", "cos"),
        () => Dedup.embeddingNearDups(in.embeddings, nVec = -1L,
          planesOverride = OpsQueries.EmbPlanes, tablesOverride = OpsQueries.EmbTables)),
      ("Dedup.ngramBrute", Seq("doc_a", "doc_b", "jaccard"),
        () => Dedup.ngramBrute(docs.filter(col("doc_id") < 1000))),
      ("Cooccurrence.cooccurrence", Seq("l", "r", "weight", "shard_l", "shard_r"),
        () => Cooccurrence.cooccurrence(docs,
          Cooccurrence.tokenDictionary(docs, minFreq = 5, topV = 200))))
  }

  /** Run the pass; (operator, output digest) in call order. */
  def digests(tracer: Option[Tracer]): Seq[(String, Digest)] =
    calls.map { case (span, cols, op) =>
      span -> (tracer match {
        case None => Digest.of(op(), cols)
        case Some(t) => t.span(span) {
          val d = Digest.of(op(), cols)
          t.rows(span, d.rows)
          d
        }
      })
    }

  def batch(spark: SparkSession, scratch: String, tracer: Option[Tracer]): BatchOut = {
    val ds = digests(tracer)
    ds.foreach { case (span, d) => Workloads.check(span, d, Pins.ops(span)) }
    val extra = tracer.fold(Map.empty[String, Double])(t => t.post(verifyYields(ds.toMap)))
    BatchOut(ds.map(_._2.rows).sum, ds.map(_._2).mkString(","), extra)
  }

  /** Verified pairs over LSH candidate pairs, both counted on the frame
    * each operator bands (after the batch, outside any span), and the
    * candidate count itself.
    * minhashNearDups and ngramJaccard band only the exact-duplicate
    * representatives and expand their pairs across sha groups afterwards,
    * so both counts run on the representatives: the operator without its
    * pre-pass gives the representative-level pairs. embeddingNearDups bands
    * every vector through candidatePairsAgg and has no pre-pass.
    */
  private def verifyYields(ds: Map[String, Digest]): Map[String, Double] = {
    val docs = in.documents
    val reps = docs.join(Dedup.repMembers(docs).filter(col("doc_id") === col("rep_id"))
      .select(col("doc_id")), Seq("doc_id"), "left_semi")
    val vecSigs = Dedup.embeddingBands(in.embeddings, -1L, 64,
        OpsQueries.EmbTables, OpsQueries.EmbPlanes)
      .withColumnRenamed("table_id", "band_id")
      .withColumnRenamed("bits", "band_hash")
      .withColumnRenamed("vec_id", "doc_id")
    def yieldOf(span: String, verified: Long, candidates: DataFrame): Seq[(String, Double)] = {
      val n = candidates.count()
      Seq(s"$span.verify_yield" -> verified.toDouble / math.max(1L, n),
        s"$span.lsh_candidates" -> n.toDouble)
    }
    (yieldOf("Dedup.minhashNearDups",
        Dedup.minhashNearDups(reps, exactPrepass = false).count(),
        Dedup.candidatePairs(Dedup.minhashBands(reps), 256)) ++
      yieldOf("Dedup.ngramJaccard",
        Dedup.ngramJaccard(reps, exactPrepass = false).count(),
        Dedup.candidatePairs(Dedup.ngramBands(reps), 256)) ++
      yieldOf("Dedup.embeddingNearDups", ds("Dedup.embeddingNearDups").rows,
        DedupAccess.candidatePairsAgg(vecSigs, 1024))).toMap
  }
}
