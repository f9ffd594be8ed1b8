package graft.queries

import org.apache.spark.sql.SparkSession

/** Bounded LRU cache for the query fixtures the entry points build once
  * per (session, fixture id) — pipeline runs, CDC source tables, packed
  * temp views, keyed by the dataset dir; [[PlanPin]]'s pinned frames,
  * keyed by tag and canonical plan. The round-3 form grew forever (fine
  * for the bench harness, a leak for any long-lived server embedding
  * these entry points): this one evicts least-recently-used entries past `max`, running `onEvict`
  * so pinned resources (cached DataFrames) are released. Access is
  * synchronized — fixture construction is rare and heavy, contention nil.
  */
final class FixtureCache[V](max: Int = 8, onEvict: V => Unit = (_: V) => ()) {
  private val m =
    new java.util.LinkedHashMap[(SparkSession, Any), V](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, Any), V]): Boolean =
        if (size > max) { onEvict(e.getValue); true } else false
    }

  def getOrElseUpdate(k: (SparkSession, Any))(mk: => V): V = synchronized {
    val got = m.get(k)
    if (got != null) got
    else { val v = mk; m.put(k, v); v }
  }

  def size: Int = synchronized(m.size)
}
