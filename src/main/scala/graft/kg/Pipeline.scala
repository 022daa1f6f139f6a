package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The KG-construction pipeline, declared ONCE as a stage graph:
  *
  *   corpus, entities, accounts, account_embeddings, entity_embeddings
  *     → scan            (THE one corpus read: mentions + authors +
  *                        co-mention pairs + token counts + sha256, Scan.scala)
  *     → dictionary      (name→account freq)          [shuffle 1: groupBy]
  *     → candidates      (broadcast join + top-K over the lazy rollup)
  *                                                    [shuffle 2: rollup+window]
  *     → alignments      (features over the dims + logistic score + margin argmax)
  *     → representatives (connected components)
  *     → triples         (8-pattern materialization, pred-partitioned)
  *     → lineage         (sha256(content) set, per-partition metrics)
  *
  * `graph` names each stage with its inputs; a `Policy` decides how a
  * stage's frame is materialized. The same graph runs under two policies:
  *   - in-memory (`compute`, `triplesForScale`) — scratch parquet for the
  *     scan, persisted dictionary/candidates/alignments, one eager fill of
  *     the alignments, and the dims built on a Future; used by
  *     SparkEntry.entry, the queries and the tests.
  *   - checkpointed (`run(root)`) — every stage written through
  *     Checkpoint.stage; a re-run resumes from the first incomplete stage
  *     (north rule) and evaluates no completed stage's body.
  */
object Pipeline {

  final case class Result(
      triples: DataFrame,
      alignments: DataFrame,
      lineage: DataFrame,
      mentions: DataFrame,
      dictionary: DataFrame,
      candidates: DataFrame,
      rollupThunk: () => DataFrame,
      scan: DataFrame,
      persisted: Seq[DataFrame],
      scanPath: Option[String]) {
    /** The pre-top-K candidate rollup (CandidateGen.rollupAll) — the frame
      * the A13 diagnostics need, and the graph's own lazy rollup: building
      * its plan runs an eager probe job (the fuzzy-skip check), so the
      * in-memory policy hands over the frame candidates were cut from,
      * while a resumed run() builds it only when a caller asks for
      * diagnostics.
      *
      * Lifetime: like every other frame on this Result, `rollup` must not
      * be touched after [[unpersist]] — in compute() mode its plan reads
      * the persisted dictionary and the scan scratch parquet, both of
      * which unpersist() releases/deletes (KgQueries' LRU eviction calls
      * it), so a post-eviction access recomputes through deleted scratch
      * and can fail (ADVICE r5).
      */
    lazy val rollup: DataFrame = rollupThunk()
    /** Release the frames the in-memory policy persisted (and the scan's
      * scratch parquet) — a long-lived session running many pipelines
      * accumulates cache otherwise (storage eviction then fights execution
      * memory). A no-op for run()'s checkpoint-backed Result.
      */
    def unpersist(): Unit = {
      persisted.foreach(_.unpersist())
      scanPath.foreach(Scan.dropScratch(scan.sparkSession, _))
    }
  }

  def sessionConf(spark: SparkSession): Unit = {
    // AQE handles runtime coalescing + skew-join splitting (SURVEY §2.9 X4)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
  }

  /** How the in-memory policy keeps a stage's frame; the checkpointed
    * policy writes every stage to parquet whatever its Keep.
    */
  private sealed trait Keep
  private object Keep {
    /** no materialization: each consumer re-plans the stage */
    case object Plan extends Keep
    /** scratch parquet: each consumer reads only its pruned columns */
    case object Scratch extends Keep
    /** persisted, filled by the first consumer's pass */
    case object Persist extends Keep
    /** persisted and filled by one eager count before the fan-out */
    case object Fill extends Keep
  }

  /** Materialization policy the stage graph runs under. */
  private sealed trait Policy {
    def stage(name: String, keep: Keep, partitionCols: Seq[String] = Nil)(
        body: => DataFrame): DataFrame
    /** A side chain the graph consumes later (the scoring dims). */
    def overlap[A](build: => A): () => A
    def persisted: Seq[DataFrame] = Nil
    def scanPath: Option[String] = None
  }

  private final class InMemory(spark: SparkSession) extends Policy {
    private var held = List.empty[DataFrame]
    private var scratch = Option.empty[String]
    override def persisted: Seq[DataFrame] = held.reverse
    override def scanPath: Option[String] = scratch

    def stage(name: String, keep: Keep, partitionCols: Seq[String])(
        body: => DataFrame): DataFrame = keep match {
      case Keep.Plan => body
      case Keep.Scratch =>
        val dir = Scan.scratchDir(spark)
        scratch = Some(dir)
        Scan.materialize(body, dir)
      case Keep.Persist | Keep.Fill =>
        val df = body.persist(StorageLevel.MEMORY_AND_DISK)
        held ::= df
        if (keep == Keep.Fill) df.count()
        df
    }

    // the side chain and the graph's next stages are independent, but each
    // blocks the driver on eager jobs (textVectors' localCheckpoint vs the
    // candidate-ladder probe) — build it on a Future so the two chains'
    // jobs interleave instead of running back-to-back (the same overlap
    // the two bucketed table writes use in Scorer.bucketedEntJoin)
    def overlap[A](build: => A): () => A = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val f = Future(build)
      () => Await.result(f, Duration.Inf)
    }
  }

  private final class Checkpointed(spark: SparkSession, root: String,
      params: String) extends Policy {
    def stage(name: String, keep: Keep, partitionCols: Seq[String])(
        body: => DataFrame): DataFrame =
      Checkpoint.stage(spark, root, name, partitionCols, params)(body)

    // lazy: a resumed run whose alignments stage is complete never builds
    // the dims (their localCheckpoint jobs would be pure waste)
    def overlap[A](build: => A): () => A = {
      lazy val v = build
      () => v
    }
  }

  /** The stage graph. `input` yields the named input table; under the
    * checkpointed policy it is only called for an incomplete input stage.
    */
  private def graph(spark: SparkSession, p: Policy, conf: KgConf,
      input: String => DataFrame): Result = {
    sessionConf(spark)
    val repos = p.stage("corpus", Keep.Plan)(input("corpus"))
    val entities = p.stage("entities", Keep.Plan)(input("entities"))
    val accounts = p.stage("accounts", Keep.Plan)(input("accounts"))
    // ONE corpus read: Scan.products extracts mentions + authors +
    // co-mention pairs + token counts in a single pass and is the only
    // frame that ever sees `content`. It feeds four consumers (dictionary,
    // lineage, text vectors, social graph) — materialized as parquet (not
    // .persist) so each consumer reads only its pruned columns; the
    // product rows are a small fraction of content size (annotations +
    // per-authored-file token histograms). A resumed run never touches
    // content again.
    val scan = p.stage("scan", Keep.Scratch)(Scan.products(repos))
    val mentions = Scan.mentions(scan)
    val dict = p.stage("dictionary", Keep.Persist)(
      Dictionary.build(spark, mentions, accounts))
    val accEmb = p.stage("account_embeddings", Keep.Plan)(input("account_embeddings"))
    val entEmb = p.stage("entity_embeddings", Keep.Plan)(input("entity_embeddings"))
    // the dim-side feature frames (accVec/sgVec/hp lookup) do not depend
    // on the dictionary→candidates chain
    val dims = p.overlap(Scorer.dims(entities, accounts, scan, accEmb, entEmb))
    // the pre-top-K rollup is exposed on Result so the A13 diagnostics
    // (Scorer.candidateStats) read the SAME checkpointed frame instead of
    // re-running the dictionary join + ladder — at corpus scale that
    // recompute is a full dictionary-sized join paid once per diagnostic
    lazy val rollup = CandidateGen.rollupAll(spark, entities, dict, conf)
    // persisted (lazily — the scoring chain's first pass fills it): the
    // candidates frame is consumed by the scorer AND re-read by every
    // kg_candidates / A13-diagnostics access; without the persist each
    // access re-runs the top-K window over the rollup checkpoint. Size is
    // O(|entities| × topK) narrow rows, tiny next to the corpus.
    val cands = p.stage("candidates", Keep.Persist)(CandidateGen.topK(rollup, conf))
    // alignments feed three consumers (connected components, the triple
    // materialization, and the evaluation surface) — without a persist the
    // whole corpus-scan → dictionary → scoring chain recomputes per
    // consumer (~3× wall). Fill the cache with ONE job before the
    // consumers fan out: the final triple plan scans `aligned` six times
    // (per-pair branch, the two narrow distincts, and representatives'
    // three edge/label scans), and under AQE those scans submit as
    // CONCURRENT stage jobs — against an unfilled cache each one re-runs
    // the whole bucketed-join → featurize → window chain (measured: a wave
    // of six equal ~34 s jobs at 2M files/local[16], ~6× the chain's CPU).
    val aligned = p.stage("alignments", Keep.Fill)(
      Scorer.score(cands, entities, accounts, scan, accEmb, entEmb, conf,
        prebuiltDims = Some(dims())))
    val reps = p.stage("representatives", Keep.Plan)(
      Canonicalize.representatives(spark, aligned, conf))
    val triples = p.stage("triples", Keep.Plan, Seq("pred"))(
      Triples.materialize(aligned, reps))
    val lineage = p.stage("lineage", Keep.Plan)(
      scan.select(col("repo"), col("path"), col("commit"), col("content_sha"))
        .distinct())
    Result(triples, aligned, lineage, mentions, dict, cands, () => rollup,
      scan, p.persisted, p.scanPath)
  }

  /** The input tables of the synthesized world at `scale`. */
  private def synthesized(spark: SparkSession, scale: CorpusGen.Scale)
      : String => DataFrame = {
    case "corpus" => CorpusGen.repos(spark, scale).toDF()
    case "entities" => CorpusGen.entities(spark, scale).toDF()
    case "accounts" => CorpusGen.accounts(spark, scale).toDF()
    case "account_embeddings" => CorpusGen.accountEmbeddings(spark, scale).toDF()
    case "entity_embeddings" => CorpusGen.entityEmbeddings(spark, scale).toDF()
  }

  /** The stage graph under the in-memory policy. */
  def compute(spark: SparkSession, repos: DataFrame, entities: DataFrame,
      accounts: DataFrame, accountEmbeddings: DataFrame,
      entityEmbeddings: DataFrame, conf: KgConf = KgConf()): Result =
    graph(spark, new InMemory(spark), conf, Map(
      "corpus" -> repos, "entities" -> entities, "accounts" -> accounts,
      "account_embeddings" -> accountEmbeddings,
      "entity_embeddings" -> entityEmbeddings))

  /** Auto-select the featurize pair-join strategy by scale: corpora at or
    * above `featurizeAutoBucketFiles` files get bucketed entity_id tables
    * (no serial broadcast build of a dim that grows with the corpus —
    * measured 1.9× faster at 2M files/local[16]); the bucketed tables are
    * named per SCALE so concurrent scales in one session never alias, and
    * same-scale overwrites rewrite identical bytes (deterministic
    * synthesis). Explicitly-set bucketedFeaturize is left alone.
    */
  def confFor(scale: CorpusGen.Scale, conf: KgConf = KgConf()): KgConf =
    if (!conf.bucketedFeaturize && scale.nFiles >= conf.featurizeAutoBucketFiles)
      conf.copy(bucketedFeaturize = true,
        featurizePrefix = s"graft_feat_${scale.name}")
    else conf

  /** Convenience: compute() over a fully synthesized world at `scale`. */
  def computeForScale(spark: SparkSession, scale: CorpusGen.Scale,
      conf0: KgConf = KgConf()): Result =
    graph(spark, new InMemory(spark), confFor(scale, conf0),
      synthesized(spark, scale))

  def triplesForScale(spark: SparkSession, scale: CorpusGen.Scale,
      conf: KgConf = KgConf()): DataFrame =
    computeForScale(spark, scale, conf).triples

  /** The stage graph under the checkpointed policy: every stage is skipped
    * when its `_SUCCESS` marker exists, so a killed run resumes where it
    * stopped and produces byte-identical outputs (deterministic inputs +
    * explicit total-order tie-breaks everywhere).
    */
  def run(spark: SparkSession, scale: CorpusGen.Scale, root: String,
      conf0: KgConf = KgConf()): Result = {
    val conf = confFor(scale, conf0)
    // params fingerprint: a resumed root with a different scale or KgConf
    // recomputes instead of silently reusing stale stage outputs
    val params = s"$scale|$conf"
    graph(spark, new Checkpointed(spark, root, params), conf,
      synthesized(spark, scale))
  }
}
