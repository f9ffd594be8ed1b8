package graft.store

import java.nio.file.Path

/** Test-only bridge into `private[store]` commit machinery: lets specs
  * drive [[IcebergLikeTable.commitAndGc]] with a manifest captured BEFORE
  * a concurrent mutation, reproducing races deterministically that public
  * entry points (which re-read the manifest at entry) would hide.
  */
object StoreTestAccess {
  def commit(t: IcebergLikeTable)(prev: t.Manifest, next: t.Manifest): Unit =
    t.commitAndGc(prev, next)

  /** Stage `m` as a temp log entry and stop there — the state a writer
    * leaves when it dies before publishing. Returns the temp's path.
    */
  def strandTemp(t: IcebergLikeTable)(m: t.Manifest): Path = t.stage(m)

  /** Rows the driver-side point read decodes for `key` before matching
    * it: what its pushed key filter let through.
    */
  def pointRowsScanned(t: IcebergLikeTable, key: String): Int =
    t.pointRowsScanned(key)
}
