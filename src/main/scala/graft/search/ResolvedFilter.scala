package graft.search

import graft.filters.FilterDsl
import org.apache.spark.sql.{Column, DataFrame}

/** One request's filter, resolved once and shared by every backend that
  * serves the request: the DSL spec, its Catalyst predicate over the corpus
  * frame (None = no filter), and — when a RAM tier is pinned and the spec
  * touches nothing but `label` — that tier with the label predicate it
  * evaluates ([[RamCorpus.labelPredicate]]). `ram` present is the one
  * answer to "can the RAM tier serve this filter?": exact scores the
  * pinned blocks, the post-filter ladder takes its candidates from them,
  * a compressed tier refines its shortlist there, and `|allowed|` is
  * counted from the tier's label histogram. */
final class ResolvedFilter private (
    val spec: FilterDsl.Spec,
    val pred: Option[Column],
    val ram: Option[(RamCorpus, Option[Int => Boolean])],
    emb: DataFrame) {

  /** |allowed|: `total` without a filter, the RAM tier's histogram count
    * when it evaluates the filter, else one Catalyst count. */
  def allowed(total: Long): Long = (pred, ram) match {
    case (None, _) => total
    case (_, Some((rc, lp))) => rc.countAllowed(lp)
    case (Some(p), None) => emb.where(p).count()
  }
}

object ResolvedFilter {

  /** Compile `spec` against `emb` (unknown fields are hard errors) and ask
    * `ram`, when given, whether it can evaluate the spec. */
  def apply(emb: DataFrame, spec: FilterDsl.Spec,
            ram: Option[RamCorpus] = None): ResolvedFilter =
    new ResolvedFilter(spec,
      if (spec.isEmpty) None else Some(FilterDsl.compile(emb, spec)),
      ram.flatMap(rc => RamCorpus.labelPredicate(spec).map((rc, _))), emb)
}
