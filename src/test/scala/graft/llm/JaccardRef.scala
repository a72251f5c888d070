package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference Jaccard for specs: exact Jaccard for given pairs from
  * their distinct gram-string shingle sets ([[Dedup.shingles]] output),
  * keyed on the same 60-bit md5 truncation the engine and the oracles
  * use, so a truncation collision is mirrored too. */
object JaccardRef {
  def pairJaccard(pairs: DataFrame, sh: DataFrame): DataFrame =
    Dedup.pairJaccardHashed(pairs,
      sh.select(col("id"),
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("h")))
}
