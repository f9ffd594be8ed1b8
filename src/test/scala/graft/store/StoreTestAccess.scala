package graft.store

/** Test-only bridge into `private[store]` commit machinery: lets specs
  * drive [[IcebergLikeTable.commitAndGc]] with a manifest captured BEFORE
  * a concurrent mutation, reproducing races deterministically that public
  * entry points (which re-read the manifest at entry) would hide.
  */
object StoreTestAccess {
  def commit(t: IcebergLikeTable)(prev: t.Manifest, next: t.Manifest): Unit =
    t.commitAndGc(prev, next)

  /** Run `body` while holding `t`'s commit lock — exposes the ownership
    * protocol (release-only-own-lock, swap fencing) to deterministic
    * tests that simulate a mid-commit stale break.
    */
  def underCommitLock[A](t: IcebergLikeTable)(body: => A): A =
    t.withCommitLock(body)

  /** The raw manifest swap (normally reached only via commitAndGc inside
    * the lock) — lets the fencing test interpose a lock theft between
    * CAS check and swap.
    */
  def swapManifest(t: IcebergLikeTable)(m: t.Manifest): Unit =
    t.commitManifest(m)

  /** Rows the driver-side point read decodes for `key` before matching
    * it: what its pushed key filter let through.
    */
  def pointRowsScanned(t: IcebergLikeTable, key: String): Int =
    t.pointRowsScanned(key)
}
