package graft.operators

/** A session-level top-k route catalog keyed by (table, column): the
  * dialect looks an index up here before it plans a statement
  * (reference `cpp/tql/tql.hpp:171` check_for_top_k_binary_function_search).
  * [[AnnIndex.Catalog]] and [[Bm25.Catalog]] are its two instances; each
  * defines its own `Entry`.
  *
  * An eager registration (`put`) serves its entry as is and wins over a
  * provider for the same key: session indexes have no manifest to gate
  * on. A provider re-validates at LOOKUP time (table-owned indexes
  * re-check their manifest and artifact stamp, see
  * `Snapshots.annProvider`), so a drop, quarantine or absorb in another
  * process is observed instead of serving a stale loaded frame; `None`
  * means no route (linear fallback). */
abstract class RouteCatalog {
  /** what a lookup returns: the index and its table's id column */
  type Entry

  @volatile private var entries: Map[(String, String), Entry] = Map.empty
  @volatile private var providers: Map[(String, String), () => Option[Entry]] = Map.empty

  protected def put(table: String, column: String, e: Entry): Unit =
    entries += (table, column) -> e

  def registerProvider(table: String, column: String, p: () => Option[Entry]): Unit =
    providers += (table, column) -> p

  def lookup(table: String, column: String): Option[Entry] =
    entries.get((table, column))
      .orElse(providers.get((table, column)).flatMap(_.apply()))

  def unregister(table: String, column: String): Unit = {
    entries -= ((table, column)); providers -= ((table, column))
  }

  def clear(): Unit = { entries = Map.empty; providers = Map.empty }
}
