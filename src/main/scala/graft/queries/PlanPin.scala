package graft.queries

import org.apache.spark.sql.DataFrame

/** Pin a derived frame per (session, canonical plan) so plans that
  * consume one expensive subtree from several branches (self-joins,
  * stats aggregates + their broadcast, dup-detection + hit join) compute
  * it ONCE. Spark's exchange reuse only covers branches whose exchanges
  * canonicalize identically — a stats aggregate partitioned differently
  * from the join recomputes the whole subtree (guide §1.2: don't compute
  * things you throw away).
  *
  * Callers pass the frame ALREADY repartitioned by the downstream key
  * when the consumers are keyed (guide §2.4: operations keyed the same
  * way share one exchange) — the cached relation then reports that
  * hashpartitioning and keyed consumers read it exchange-free.
  *
  * A pin is keyed by the tag and the canonicalized analyzed plan
  * itself, so a hit requires the plan `sameResult` would accept — two
  * plans whose hashes collide still get their own pins. Pinned inputs
  * must stay unchanged for the session: the key is the plan, not the
  * data, so a pin over a path rewritten in-session keeps serving the
  * rows it read first.
  *
  * Entries are MEMORY_AND_DISK (spills past memory), bounded LRU, and
  * unpersist on eviction — the same lifecycle as the query-layer
  * fixture caches. Every bench/oracle invocation still computes from
  * the parquet inputs: nothing outlives the session.
  */
object PlanPin {
  private val cache = new FixtureCache[DataFrame](
    onEvict = df => { df.unpersist(); () })

  def pinned(df: DataFrame, tag: String): DataFrame =
    cache.getOrElseUpdate(
      (df.sparkSession, (tag, df.queryExecution.analyzed.canonicalized))) {
      df.persist()
    }
}
