package graft.operators

import org.apache.spark.sql.DataFrame

/** Plan staging utilities shared by every operator family. */
private[graft] object Stage {

  /** Eager localCheckpoint + STATS RESET — the project-wide
    * materialization barrier (one definition; Dedup, Relational and
    * Similarity all stage through here).
    *
    * Two hazards this kills, both observed in earlier rounds:
    *  - localCheckpoint's LogicalRDD inherits the child plan's
    *    *estimated* sizeInBytes; in an iterative loop whose rounds join
    *    the previous result with itself those estimates multiply every
    *    round — the BigInt's digit count grows exponentially and the
    *    driver ends up spending its time in Catalyst's stats arithmetic
    *    (observed: 0.4s rounds degrading to 40s by round 13).
    *    Re-wrapping the materialized RDD in a fresh DataFrame resets
    *    stats to the constant default and keeps rounds flat.
    *  - An expensive expression tree consumed by a downstream lambda is
    *    a single-reference consumer to CollapseProject: the WHOLE tree
    *    inlines into the lambda body and multiplies per consumer
    *    (round-8 e25, round-10 e26 — the latter serialized a ~225 MiB
    *    task binary and OOMed the test JVM). Cutting the plan here
    *    turns the upstream into a `Scan ExistingRDD` leaf, so the
    *    downstream plan size is the downstream's own.
    *
    * The extra Row conversion layer is irrelevant for the bounded
    * tables staged through this (label/edge loops, daily sketch cells,
    * rotated-embedding corpora).
    */
  def checkpointFresh(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(true)
    df.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }
}
