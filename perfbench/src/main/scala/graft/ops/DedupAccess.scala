package graft.ops

import org.apache.spark.sql.DataFrame

/** The benchmark's window on Dedup's package-private candidate generator,
  * so the embedding verify yield counts the candidates embeddingNearDups
  * itself verifies.
  */
object DedupAccess {
  def candidatePairsAgg(sigs: DataFrame, bucketCap: Int): DataFrame =
    Dedup.candidatePairsAgg(sigs, bucketCap)
}
