package graft.xml

import org.apache.spark.unsafe.types.UTF8String

/** Per-thread memo of recent per-row results, shared by every XML
  * expression that re-evaluates the same row.
  *
  * A bound projection references one row's parse or extraction from
  * several member expressions, often under `when` branches where Spark's
  * subexpression elimination does not reach, so the same (site, row) pair
  * is evaluated several times back to back on one thread. Each site key
  * keeps a 4-slot access-order LRU of its last rows, which makes the
  * repeats O(1) without any cross-row or cross-thread state.
  *
  * Row keys are copies of the input `UTF8String`: its hash and equality
  * read the raw bytes, so a hit needs no UTF-16 decode, and the copy keeps
  * an input that aliases a reused row buffer from corrupting its entry.
  * The copy is `copy()`, not `clone()`, which returns a string over the
  * same array when the input spans a whole `byte[]`. Null results are
  * cached too. A site key is the calling site's prefix followed by
  * everything else the result depends on (patterns and capture flags, or
  * the schema), so no two sites share an entry. The sites:
  *   - `parse:` — [[XmlMemoParseExpr]], the DSL's wrapper of every parse;
  *   - `children:` — the StAX fallback of [[XmlChildrenExpr]],
  *     [[XmlFirstChildExpr]] and [[XmlExplodeChildren]];
  *   - `childrenAt:` — the StAX fallback of [[XmlChildrenAtExpr]].
  *
  * With `GraftExtensions` (registered by `graft.Sessions.local` for every
  * main and test session), `graft.plans.DedupXmlParses` evaluates each
  * document-level parse and extraction once per row with no memo, so the
  * memo then serves only expressions over a `transform` lambda's element,
  * extractions referenced once, and user sessions without the extensions
  * (the rule-off runs of XmlGoldenSpec cover that path).
  */
private[xml] object XmlRowMemo {
  private final val Slots = 4

  private final class Lru
      extends java.util.LinkedHashMap[UTF8String, Any](Slots * 2, 0.75f,
        true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[UTF8String, Any]): Boolean = size() > Slots
  }

  private val bySite = ThreadLocal.withInitial[java.util.HashMap[String, Lru]](
    () => new java.util.HashMap[String, Lru]())

  /** `compute`'s result for `row` at `site`, evaluated only on a miss. */
  def apply[T](site: String, row: UTF8String)(compute: => T): T = {
    val perSite = bySite.get()
    var lru = perSite.get(site)
    if (lru == null) {
      lru = new Lru
      perSite.put(site, lru)
    }
    val hit = lru.get(row)
    if (hit != null || lru.containsKey(row)) hit.asInstanceOf[T]
    else {
      val res = compute
      lru.put(row.copy(), res)
      res
    }
  }
}
