package graft

package object sources {

  /** The conditional-PUT log protocol's former name, kept so code
    * written against it still compiles; [[Snapshots]] is the one
    * versioned-table protocol on every store.
    */
  val CasSnapshots: Snapshots.type = Snapshots
}
