package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kg.CorpusGen

/** Benchmark inputs, materialized as parquet and read back, so the program
  * only ever sees files the benchmark wrote.
  *
  * Row contents are fixed: the kg tables are a pure function of the
  * program's synthesis seed, the ops tables are the sf0.1 test tables. The
  * workload seed varies only the physical layout: the row order within
  * the files. Results must not depend on it, so every seed has the same
  * expected output. The number of files is an argument: timed runs write
  * one file per core, because the file count sets how many partitions Spark
  * reads these small tables as, and that moved batch time by up to 20%
  * between seeds; SelfTest writes other counts to check that results do not
  * depend on it.
  */
object Inputs {

  /** The kg input tables, named like the input stages of Pipeline.run. */
  final case class Kg(tables: Map[String, String],
      repos: DataFrame, entities: DataFrame, accounts: DataFrame,
      accountEmbeddings: DataFrame, entityEmbeddings: DataFrame)

  final case class Ops(documents: DataFrame, embeddings: DataFrame)

  val KgStages: Seq[String] =
    Seq("corpus", "entities", "accounts", "account_embeddings", "entity_embeddings")

  /** Write `df` under `dir` as `files` files, rows hash-partitioned and
    * ordered by a hash of the seed and their contents, and read it back.
    */
  def layout(df: DataFrame, seed: Long, dir: String, files: Int): DataFrame = {
    df.withColumn("_perm", xxhash64(lit(seed) +: df.columns.toSeq.map(col): _*))
      .repartition(files, col("_perm"))
      .sortWithinPartitions(col("_perm"))
      .drop("_perm")
      .write.parquet(dir)
    df.sparkSession.read.parquet(dir)
  }

  def kg(spark: SparkSession, scale: CorpusGen.Scale, seed: Long, dir: String,
      files: Int): Kg = {
    val gen = Seq(
      CorpusGen.repos(spark, scale).toDF(),
      CorpusGen.entities(spark, scale).toDF(),
      CorpusGen.accounts(spark, scale).toDF(),
      CorpusGen.accountEmbeddings(spark, scale).toDF(),
      CorpusGen.entityEmbeddings(spark, scale).toDF())
    val dirs = KgStages.map(s => s -> s"$dir/$s").toMap
    val read = KgStages.zip(gen).map { case (s, df) => layout(df, seed, dirs(s), files) }
    Kg(dirs, read(0), read(1), read(2), read(3), read(4))
  }

  // ------------------------------------------------------------ ops tables

  /** Directory of the ops tables: the repository's sf0.1 `documents` and
    * `embeddings` test tables, copied unchanged into the benchmark.
    */
  def opsDataDir: String = sys.props.getOrElse("perfbench.data", "perfbench/data")

  def ops(spark: SparkSession, seed: Long, dir: String, files: Int): Ops = {
    def table(t: String): DataFrame =
      layout(spark.read.parquet(s"$opsDataDir/$t.parquet"), seed, s"$dir/$t", files)
    Ops(table("documents"), table("embeddings"))
  }
}
