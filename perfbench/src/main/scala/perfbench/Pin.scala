package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.kg.ScalarOracle

/** Regenerates `pins.properties`: the ScalarOracle triple digest of every kg
  * workload's scale, and the ops_dedup operators' output digests on the ops
  * tables. Run it only when the expected outputs are meant to change, and
  * review the diff.
  *
  *   python3 perfbench/run.py --main perfbench.Pin [--oracle-dump <dir>]
  *
  * With `--oracle-dump`, it also writes the program's own query for each
  * ops operator, run on the ops tables, to `<dir>` with the query's DuckDB
  * oracle SQL, for `tools/check_oracle.py <dir> <dir holding the sf0.1
  * tables>`, and fails unless every operator call of the workload returns
  * the same rows as its query.
  */
object Pin {
  /** The SparkEntry query each ops_dedup operator call reproduces. */
  val OpsQueryNames: Map[String, String] = Map(
    "Dedup.minhashNearDups" -> "dedup_minhash_lsh",
    "Dedup.ngramJaccard" -> "dedup_ngram_jaccard",
    "Dedup.embeddingNearDups" -> "dedup_embedding_cosine",
    "Dedup.ngramBrute" -> "dedup_ngram_brute",
    "Cooccurrence.cooccurrence" -> "cooc_pairs")

  def main(args: Array[String]): Unit = {
    val scratch = args.lastOption.getOrElse("perfbench-scratch")
    val dump = args.sliding(2).collectFirst { case Array("--oracle-dump", d) => d }
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = Main.session(scratch, cores)
    import spark.implicits._
    val scales = Workloads.all.collect { case w: KgCheckpointed => w.scale }.distinct
    val kg = scales.map { s =>
      val t0 = System.nanoTime()
      val triples = ScalarOracle.run(s)._1.toSeq.toDS()
      val d = Digest.triples(triples.toDF())
      println(f"perfbench: oracle ${s.name}: ${d.rows} triples in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      s"kg.${s.name}=$d"
    }
    val ops = new OpsDedup("ops_dedup")
    ops.setup(spark, 0L, s"$scratch/pin-inputs", cores)
    val opLines = ops.digests(None).map { case (op, d) => s"ops.$op=$d" }
    val body = (Seq(
      "# Expected-output digests (rows:sum_lo:sum_hi:xor of per-row xxhash64).",
      "# kg.<scale>: ScalarOracle triples. ops.<operator>: operator output on",
      "# the ops tables (perfbench/data). Regenerate with perfbench.Pin.") ++
      kg ++ opLines).mkString("", "\n", "\n")
    Files.write(Paths.get(Pins.file), body.getBytes("UTF-8"))
    print(body)
    val same = dump.forall(oracleDump(spark, ops, _))
    spark.stop()
    if (!same) sys.exit(1)
  }

  /** Writes each ops operator's query output and oracle SQL under `dir`;
    * true if every operator call returns its query's rows.
    */
  private def oracleDump(spark: SparkSession, ops: OpsDedup, dir: String): Boolean = {
    val queries = SparkEntry.queries
    // compare as text: cooc_pairs widens the shard columns to long
    def asText(df: DataFrame, cols: Seq[String]): Digest =
      Digest.of(df.select(cols.map(c => col(c).cast("string").as(c)): _*), cols)
    val same = ops.calls.map { case (op, cols, call) =>
      val name = OpsQueryNames(op)
      val out = queries(name)(spark, Inputs.opsDataDir)
      out.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
      val ok = asText(out, cols) == asText(call(), cols)
      println(s"perfbench: $op ${if (ok) "returns the rows of" else "DIFFERS FROM"} query $name")
      ok
    }.forall(identity)
    def q(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\t' => "\\t"
        case c => c.toString
      } + "\""
    val json = OpsQueryNames.values.toSeq.sorted
      .map(n => s"${q(n)}: ${q(SparkEntry.oracleSql(n))}").mkString("{", ", ", "}")
    Files.write(Paths.get(s"$dir/oracle_sql.json"), json.getBytes("UTF-8"))
    same
  }
}
