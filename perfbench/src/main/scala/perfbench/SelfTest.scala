package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kg.{CorpusGen, Pipeline}

/** The benchmark's own checks; exits non-zero if one fails.
  *
  *   python3 perfbench/run.py --main perfbench.SelfTest
  *
  *   - dropping or altering one triple, or dropping one operator output
  *     row, trips the output check;
  *   - two seeds and two file counts give different physical input layouts
  *     but the same kg and ops digests (results do not depend on
  *     partitioning);
  *   - the traced kg_checkpointed batch returns the untraced batch's triples.
  */
object SelfTest {
  private var failures = 0

  private def expect(what: String)(ok: => Boolean): Unit = {
    val pass = try ok catch {
      case e: Throwable => println(s"perfbench selftest: $what threw $e"); false
    }
    if (!pass) failures += 1
    println(s"perfbench selftest: ${if (pass) "PASS" else "FAIL"} $what")
  }

  private def trips(check: => Unit): Boolean =
    try { check; false } catch { case _: CheckFailed => true }

  /** (files, first row) of each table under an inputs directory. */
  private def layoutOf(spark: SparkSession, dirs: Seq[String]): Seq[(Int, String)] =
    dirs.map { d =>
      val df = spark.read.parquet(d)
      (df.inputFiles.length, df.head().toString)
    }

  def main(args: Array[String]): Unit = {
    val scratch = args.lastOption.getOrElse("perfbench-scratch")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Main.session(scratch, cores)

    // ---- kg: two seeds, one pipeline run each, against the pinned oracle
    val scale = CorpusGen.Small
    val want = Pins.kg(scale)
    // seed 2 also uses another file count than the timed runs' one per core
    val layouts = Seq(1L -> cores, 2L -> (2 * cores + 1)).map { case (seed, files) =>
      val in = Inputs.kg(spark, scale, seed, s"$scratch/kg-$seed", files)
      val r = Pipeline.compute(spark, in.repos, in.entities, in.accounts,
        in.accountEmbeddings, in.entityEmbeddings, Pipeline.confFor(scale))
      val triples = r.triples.localCheckpoint()
      expect(s"seed $seed: triples equal the ScalarOracle digest")(
        Digest.triples(triples) == want)
      if (seed == 1L) {
        expect("dropping one triple trips the check")(trips(Workloads.check(
          "triples", Digest.triples(triples.exceptAll(triples.limit(1))), want)))
        expect("altering one triple trips the check")(trips(Workloads.check(
          "triples", Digest.triples(triples.exceptAll(triples.limit(1))
            .unionByName(triples.limit(1).withColumn("obj", concat(col("obj"), lit("x"))))),
          want)))
      }
      r.unpersist()
      layoutOf(spark, Inputs.KgStages.map(s => in.tables(s)))
    }
    expect("two seeds give different input layouts")(
      layouts(0).zip(layouts(1)).forall { case (a, b) => a._1 != b._1 && a._2 != b._2 })

    // ---- ops: two seeds, same digests; one dropped row trips the check
    val ops = Seq(1L -> cores, 2L -> (2 * cores + 1)).map { case (seed, files) =>
      val w = new OpsDedup("ops_dedup")
      w.setup(spark, seed, s"$scratch/ops-$seed", files)
      w.digests(None)
    }
    expect("ops digests equal the pins for both seeds")(
      ops.forall(_.forall { case (op, d) => d == Pins.ops(op) }))
    val docs = spark.read.parquet(s"$scratch/ops-1/documents")
    val pairs = graft.ops.Dedup.ngramBrute(docs.filter(col("doc_id") < 1000))
      .localCheckpoint()
    expect("dropping one operator output row trips the check")(trips(Workloads.check(
      "Dedup.ngramBrute", Digest.of(pairs.exceptAll(pairs.limit(1)),
        Seq("doc_a", "doc_b", "jaccard")), Pins.ops("Dedup.ngramBrute"))))

    // ---- traced kg_checkpointed batch equals the untraced one
    val ck = new KgCheckpointed("kg_checkpointed", scale)
    ck.setup(spark, 3L, s"$scratch/ck", cores)
    val plain = ck.batch(spark, s"$scratch/ck-batches", None)
    val tracer = new Tracer(spark)
    val traced = ck.batch(spark, s"$scratch/ck-batches", Some(tracer))
    tracer.close()
    expect("traced kg_checkpointed triples equal untraced")(plain.digest == traced.digest)

    spark.stop()
    println(s"perfbench selftest: $failures failure(s)")
    if (failures > 0) sys.exit(1)
  }
}
