package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Filters
import graft.operators.Filters.Cond

/** The reference's structured query language (orchestrator/query_language
  * .py) as a thin Scala builder that emits one declarative DataFrame
  * plan. The reference executes QuerySpec by fetching ALL rows then
  * filtering/sorting/paginating in Python (:378-428); here the same spec
  * becomes `table.filter(...).orderBy(...).select(...)` and Catalyst
  * prunes/pushes everything into the scan.
  *
  * Query types (query_language.py:24-30): NODES, RELATIONSHIPS, GRAPH,
  * AGGREGATION, SEARCH. The 14-operator filter dialect (:32-48) reuses
  * graft.operators.Filters — note its CONTAINS/STARTS_WITH/ENDS_WITH are
  * case-INSENSITIVE (:560-575), unlike the engine dialect.
  */
object QuerySpec {

  final case class Sort(field: String, ascending: Boolean = true)
  final case class Agg(op: String, field: String, alias: Option[String] = None)

  final case class Spec(
      filters: Seq[Cond] = Nil,
      projections: Seq[String] = Nil,
      excludes: Seq[String] = Nil,
      aggregations: Seq[Agg] = Nil,
      groupBy: Seq[String] = Nil,
      sorts: Seq[Sort] = Nil,
      limit: Option[Int] = None,
      offset: Int = 0)

  /** Fluent builder mirroring QueryBuilder (query_language.py:221-331). */
  final class Builder {
    private var spec = Spec()
    def where(field: String, op: String, value: Any = null): Builder =
      where(field, op, value, null)

    /** Range form for between / date_range — both bounds required. */
    def where(field: String, op: String, value: Any, value2: Any): Builder = {
      // the DSL dialect spells operators uppercase (query_language.py:32-48)
      // and its string matchers are case-insensitive (:560-575); normalize
      // the op so "CONTAINS" doesn't fall into the unknown-op pass-through
      val norm = op.toLowerCase
      require(!Set("between", "date_range")(norm) || value2 != null,
        s"'$norm' needs both bounds: where(field, op, lo, hi)")
      val ci = Set("contains", "starts_with", "ends_with")
      spec = spec.copy(filters = spec.filters :+
        Cond(field, norm, value, value2, caseSensitive = !ci(norm)))
      this
    }
    def select(fields: String*): Builder = { spec = spec.copy(projections = fields); this }
    def exclude(fields: String*): Builder = { spec = spec.copy(excludes = fields); this }
    def aggregate(op: String, field: String, alias: String = null): Builder = {
      spec = spec.copy(aggregations = spec.aggregations :+
        Agg(op, field, Option(alias))); this
    }
    def groupBy(fields: String*): Builder = { spec = spec.copy(groupBy = fields); this }
    def orderBy(field: String, ascending: Boolean = true): Builder = {
      spec = spec.copy(sorts = spec.sorts :+ Sort(field, ascending)); this
    }
    def limit(n: Int): Builder = { spec = spec.copy(limit = Some(n)); this }
    def offset(n: Int): Builder = { spec = spec.copy(offset = n); this }
    def build(): Spec = spec
  }

  def builder(): Builder = new Builder

  /** QueryValidator (query_language.py:131-206): collects error STRINGS
    * instead of throwing — the reference returns the full list so a
    * client can fix every problem at once. Field universes per query
    * type default to the reference's `supported_fields` map (:135-157)
    * and are overridable for custom schemas. */
  object Validator {
    /** The 21-operator filter dialect Filters implements (plus the
      * unknown-op pass-through, which validation REJECTS — pass-through
      * is an execution-leniency, not a valid spec). */
    val SupportedOps: Set[String] = Set("eq", "ne", "gt", "gte", "lt",
      "lte", "in", "not_in", "contains", "not_contains", "starts_with",
      "ends_with", "regex", "exists", "not_exists", "empty", "not_empty",
      "between", "date_range", "array_contains", "array_length")
    val SupportedAggs: Set[String] =
      Set("count", "sum", "avg", "min", "max", "group_by")
    val QueryTypes: Set[String] =
      Set("nodes", "relationships", "graph", "aggregation", "search")
    val DefaultFields: Map[String, Set[String]] = Map(
      "nodes" -> Set("id", "content", "source", "timestamp",
        "rating_truthfulness", "rating_importance", "rating_novelty",
        "tags", "metadata"),
      "relationships" -> Set("id", "source_id", "target_id",
        "relationship_type", "confidence", "metadata", "timestamp"),
      "graph" -> Set("nodes", "relationships", "metadata"))

    def validate(spec: Spec, queryType: String,
        fields: Map[String, Set[String]] = DefaultFields): Seq[String] = {
      val errs = Seq.newBuilder[String]
      if (!QueryTypes(queryType))
        errs += s"Invalid query type: $queryType"
      val universe = fields.get(queryType)
      spec.filters.foreach { f =>
        if (!SupportedOps(f.op))
          errs += s"Invalid filter operator: ${f.op}"
        universe.foreach { u =>
          if (!u(f.field))
            errs += s"Invalid field '${f.field}' for query type '$queryType'"
        }
      }
      spec.aggregations.foreach { a =>
        if (!SupportedAggs(a.op.toLowerCase))
          errs += s"Invalid aggregation operation: ${a.op}"
      }
      universe.foreach { u =>
        spec.projections.filterNot(u).foreach { p =>
          errs += s"Invalid projection field '$p' for query type '$queryType'"
        }
      }
      spec.limit.filter(_ < 0).foreach(_ => errs += "Limit must be non-negative")
      if (spec.offset < 0) errs += "Offset must be non-negative"
      errs.result()
    }
  }

  private def aggColumn(a: Agg): Column = {
    // alias defaults to "op_field" (query_language.py:483-484)
    val alias = a.alias.getOrElse(s"${a.op}_${a.field}")
    val c = a.op.toLowerCase match {
      case "count" => count(if (a.field == "*") lit(1) else col(a.field))
      case "sum"   => sum(col(a.field))
      case "avg"   => coalesce(avg(col(a.field)), lit(0.0)) // empty ⇒ 0 (:669-673)
      case "min"   => min(col(a.field))
      case "max"   => max(col(a.field))
      case other   => throw new IllegalArgumentException(s"unknown aggregation $other")
    }
    c.as(alias)
  }

  /** Execute a spec against a table: filter → (aggregate | sort → paginate
    * → project). Matches the reference's execution order
    * (query_language.py:378-428, :468-486). */
  def run(table: DataFrame, spec: Spec): DataFrame = {
    val filtered = table.filter(Filters.allFor(table, spec.filters))
    if (spec.aggregations.nonEmpty) {
      val aggs = spec.aggregations.map(aggColumn)
      if (spec.groupBy.nonEmpty)
        filtered.groupBy(spec.groupBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
      else filtered.agg(aggs.head, aggs.tail: _*)
    } else {
      val sorted =
        if (spec.sorts.isEmpty) filtered
        else filtered.orderBy(spec.sorts.map(s =>
          // nulls first asc / last desc, as the reference's null-coercion
          // sort produces (query_language.py:590-618)
          if (s.ascending) col(s.field).asc_nulls_first
          else col(s.field).desc_nulls_last): _*)
      // native offset/limit: with a preceding orderBy this compiles to
      // TakeOrderedAndProject (per-partition heaps + driver merge), never
      // a global single-partition window
      val paged = {
        val off = if (spec.offset > 0) sorted.offset(spec.offset) else sorted
        spec.limit.map(off.limit).getOrElse(off)
      }
      val projected =
        if (spec.projections.nonEmpty) paged.select(spec.projections.map(col): _*)
        else if (spec.excludes.nonEmpty) paged.drop(spec.excludes: _*)
        else paged
      projected
    }
  }
}
