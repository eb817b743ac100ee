package graft.queries

import graft.queries.QueryCatalog.Q

import scala.collection.mutable.ArrayBuffer

/** One catalog row, declared once beside its query body: the name the
  * driver grades it under, the Spark query, its DuckDB oracle, the
  * replica-0 cap its graded form slices to, and whether it reads the
  * prepared index caches. [[QueryCatalog]] derives every per-row map and
  * set from these fields.
  *
  * @param oracle DuckDB SQL graded against `q` (column names and types
  *   aligned with the Spark output), or `Left(reason)` for a row the
  *   driver can only check for rows > 0, saying why.
  * @param cap the replica-0 slice bound, set only through
  *   [[CatalogRow.capped]].
  */
final class CatalogRow private (
    val name: String,
    val q: Q,
    val oracle: Either[String, String],
    val cap: Option[Long],
    val indexBacked: Boolean)

object CatalogRow {

  /** An uncapped row graded against `oracle`. */
  def apply(name: String, q: Q, oracle: String, indexBacked: Boolean = false): CatalogRow =
    new CatalogRow(name, q, Right(oracle), None, indexBacked)

  /** A row the driver grades rows-only; `reason` says why no oracle. */
  def rowsOnly(name: String, reason: String)(q: Q): CatalogRow = {
    require(reason.trim.nonEmpty, s"rows-only row $name needs a reason")
    new CatalogRow(name, q, Left(reason), None, indexBacked = false)
  }

  /** A row whose query and oracle both slice on the cap `pick` selects.
    * The cap reaches them only through this call, so a row cannot slice
    * on a cap without declaring it.
    */
  def capped(name: String, pick: Caps => Long)(q: Long => Q, oracle: Long => String): CatalogRow = {
    val cap = pick(caps)
    new CatalogRow(name, q(cap), Right(oracle(cap)), Some(cap), indexBacked = false)
  }

  /** Replica-0 graded-slice caps (round 14's retirement of the
    * by-design sf100 skips): rows whose ORACLES are deliberately
    * quadratic (exhaustive all-pairs Jaccard, recursive closures,
    * non-spillable per-doc embedding state) grade a fixed-density
    * replica-0 slice so their from-first-principles answer checks
    * replay at every decade. At the ScaleUp decades these rows execute
    * (and Bench times) the capped slice, not the full corpus — Bench
    * stamps them as `capped_queries` (ADVICE r14). The values are
    * invariant-coupled to the fixture layout and the driver gate,
    * asserted by QueryCatalogSpec on each capped row:
    *
    *  - cap < [[graft.tools.ScaleUp.DefaultKeyStride]] (10^7), so the
    *    filter selects exactly the replica-0 family at every decade
    *    (ScaleUp offsets replica keys by `replica · stride`);
    *  - cap > the max driver-sf key (sf0.1 doc_ids end at 4,999), so
    *    the filter is a NO-OP at the sfs the driver grades — the gate
    *    compares the full corpus, the big sweeps a fixed-density slice.
    *
    * One value is interpolated into BOTH the Scala filter and the
    * oracle SQL (VERDICT r14 #1 — the two sides of an oracle pair must
    * never slice differently).
    */
  final class Caps private[CatalogRow] () {
    val Replica0Cap: Long = 5000L

    /** For rows whose exhaustive oracle is quadratic PLUS
      * recursive/stateful (q_dedup_clusters' transitive closure
      * TIMEOUT'd DuckDB at the 5000-doc slice, sweep100_r14g;
      * q_pack_sequences' recursion depth, q_embed_neardup's all-pairs
      * verification). No-op at the sf0.01 driver gate.
      */
    val Replica0CapSmall: Long = 2000L

    /** For the one row whose oracle is exhaustive all-pairs over SETS
      * of tokens (q_prefix_jaccard's exact-verify reference —
      * list_distinct + list intersections per pair in DuckDB). No-op at
      * the sf0.001 smoke corpus only; the sf0.01+ gates grade the
      * capped slice on BOTH engines.
      */
    val Replica0CapTiny: Long = 500L

    /** The replica-0 events: the ids below it are the full sf0.1
      * events corpus at every decade.
      */
    val EventsReplica0Cap: Long = 100000L
  }

  private val caps = new Caps
}

/** A file of catalog rows: each `row(...)` statement declares one row
  * beside its query body; `rows` lists them once the object has
  * initialized.
  */
abstract class CatalogFamily {
  private val declared = ArrayBuffer.empty[CatalogRow]

  protected final def row(r: CatalogRow): Unit = declared += r

  final def rows: Seq[CatalogRow] = declared.toList
}
