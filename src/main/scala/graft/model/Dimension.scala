package graft.model

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One level of a dimension hierarchy: a key column plus the attribute
  * columns functionally dependent on it, backed by a DataFrame unique by the
  * key (reference: `level` R6 class, R/level.R:6-17).
  */
final case class Level(key: String, properties: Seq[String], data: DataFrame) {

  /** All queryable columns of this level. */
  def fields: Seq[String] = key +: properties
}

object Level {
  /** `{col: values}` -> `col1 IN (...) AND col2 IN (...)` — the reference's
    * `level$subset` value-list path (R/level.R:31-45) with `build.each.i`
    * predicate semantics (R/cube.R:42-45): an empty value list is
    * constant-false, mirroring `ar[NULL]` (R/level.R:34; NULL -> 0L). */
  def conjunction(filters: Map[String, Seq[Any]]): Column =
    if (filters.isEmpty) lit(true)
    else filters.map { case (c, vs) =>
      if (vs.isEmpty) lit(false) else col(c).isin(vs: _*)
    }.reduce(_ && _)
}

/** Hierarchy metadata: an ordered map `levelKey -> dependent attributes`,
  * coarsest level first (reference: `hierarchy` R6 class, R/hierarchy.R:6-14
  * — pure metadata, no data). */
final case class Hierarchy(levels: ListMap[String, Seq[String]]) {
  def levelKeys: Seq[String] = levels.keys.toSeq
}

object Hierarchy {
  def apply(entries: (String, Seq[String])*): Hierarchy =
    Hierarchy(ListMap(entries: _*))
  /** Default flat hierarchy: just the key, no attributes
    * (reference: as.dimension default, R/as.dimension.R:47-50). */
  def flat(key: String): Hierarchy = Hierarchy(ListMap(key -> Seq.empty))
}

/** A dimension: single-column natural key, hierarchies of levels, a
  * snowflake-normalized base table (key + all level keys), one level
  * table per level key (reference: `dimension` R6 class,
  * R/dimension.R:6-48), and the flat `denormalized` table: the base
  * joined with every level's properties, what the legacy cube stores
  * directly (R/cube.R:55-61). It is one shared DataFrame, so persisting
  * it serves every query.
  *
  * Invariants:
  *  - the key is exactly one column (R/data.cube.R:46);
  *  - levels are the union across hierarchies, merged by level-key name
  *    (R/dimension.R:33-40);
  *  - the base table holds ONE row per key, projected to key + all level
  *    keys. Divergence: the reference dedups on key + all level keys
  *    (R/dimension.R:44-46), so a key carrying two level-key values keeps
  *    two base rows and fans out a fact join; here one of them is kept, as
  *    each level table keeps one row per level key. Being key-unique at
  *    build time lets a query use the base and `denormalized` tables as
  *    plain lookups — no per-query dedup before a semi-join or a lookup
  *    join;
  *  - `denormalized` is unique by key and holds every field, so a subset
  *    is a filter over it (over the persisted table when the cube is
  *    cached);
  *  - `fields` is every level key + property, the set of columns a query
  *    may filter on (R/dimension.R:41-42).
  */
final case class Dimension(
    name: String,
    key: String,
    hierarchies: ListMap[String, Hierarchy],
    levels: ListMap[String, Level],
    data: DataFrame,
    denormalized: DataFrame
) {

  /** Every queryable column of this dimension (R/dimension.R:41-42). */
  def fields: Seq[String] = levels.values.toSeq.flatMap(_.fields).distinct

  /** Key values of this dimension — distinct because the base is unique by
    * key (the cube's "dimnames" for this axis — R/dimension.R:116-129). */
  def keyValues: DataFrame = data.select(key)

  /** Multi-level dice, the reference's `dimension$subset`
    * (R/dimension.R:64-93): every field is a column of the key-unique
    * `denormalized` table, so the dice is one conjunctive filter over it
    * (AND across levels — the reference's index intersection). All lazy —
    * one Spark plan, no action.
    */
  def subset(filters: Map[String, Seq[Any]]): Dimension = {
    if (filters.isEmpty) return this
    val unknown = filters.keySet -- fields.toSet
    require(unknown.isEmpty,
      s"unknown field(s) ${unknown.mkString(", ")} in dimension '$name'; " +
        s"known fields: ${fields.mkString(", ")}")
    restrict(denormalized.filter(Level.conjunction(filters)))
  }

  /** Positional slice (array-compat `ar[2,,]` — reference R/level.R:38-41):
    * 1-based positions into the key values in ascending key order.
    * Lazy: row_number over the sorted (small) key set + semi-join — no
    * driver collect. The global-order window funnels the key set through
    * one partition, which is fine dimension-side. */
  def subsetPositions(positions: Seq[Int]): Dimension = {
    import org.apache.spark.sql.expressions.Window
    val ranked = keyValues.withColumn("__pos",
      row_number().over(Window.orderBy(col(key).asc)))
    val picked = ranked
      .filter(col("__pos").isin(positions.map(Integer.valueOf): _*))
      .select(key)
    restrict(denormalized.join(Joins.maybeBroadcast(picked), Seq(key), "left_semi"))
  }

  /** This dimension cut down to `rows`, a row subset of [[denormalized]]:
    * `rows` becomes the new denormalized table, the base is its projection,
    * and every level keeps only the level keys that survive
    * (R/dimension.R:84-87). */
  private def restrict(rows: DataFrame): Dimension = {
    val base = rows.select(data.columns.map(col): _*)
    val newLevels = levels.map { case (lk, lvl) =>
      lk -> lvl.copy(data = lvl.data.join(
        Joins.maybeBroadcast(base.select(lk)), Seq(lk), "left_semi"))
    }
    copy(levels = newLevels, data = base, denormalized = rows)
  }

  /** Re-grain this dimension to the given attribute columns — used when a
    * query groups by hierarchy attributes: the result cube's dimension is
    * the projection to those attributes, keyed by the first (reference:
    * R/cube.R:209-217); `build` dedups it on that key. */
  def regrain(attrs: Seq[String]): Dimension = {
    val newKey = attrs.head
    Dimension.build(name, newKey,
      ListMap("default" -> Hierarchy(ListMap(newKey -> attrs.tail))),
      denormalized.select(attrs.map(col): _*))
  }
}

object Dimension {

  /** Union-merge two CONFORMED instances of the same dimension (same
    * name, key, hierarchy structure, and column schema) — the dimension
    * half of a drill-across: the merged member set must cover every key
    * either fact carries, so base and level tables union-distinct. For
    * genuinely conformed dimensions (both sides loaded from the same
    * master table, the Kimball discipline) this is a semantic no-op that
    * exists to keep the merged cube self-contained — and conformed sides
    * agree on every key's attributes, so the union stays unique by key. */
  def conformUnion(a: Dimension, b: Dimension): Dimension = {
    require(a.name == b.name && a.key == b.key,
      s"dimensions are not conformed: '${a.name}'/${a.key} vs '${b.name}'/${b.key}")
    require(a.levels.keySet == b.levels.keySet &&
        a.data.columns.toSeq == b.data.columns.toSeq,
      s"dimension '${a.name}' has mismatched structure across the cubes")
    def union(x: DataFrame, y: DataFrame): DataFrame = x.unionByName(y).distinct()
    a.copy(
      data = union(a.data, b.data),
      levels = a.levels.map { case (lk, lvl) =>
        val other = b.levels(lk)
        require(lvl.fields.toSet == other.fields.toSet,
          s"level '$lk' of dimension '${a.name}' differs across the cubes")
        lk -> lvl.copy(data = union(lvl.data, other.data))
      },
      denormalized = union(a.denormalized, b.denormalized))
  }

  /** Build a dimension from a flat attribute table + hierarchy specs —
    * the reference's `as.dimension`/`dimension$new` (R/as.dimension.R:33-64,
    * R/dimension.R:14-48): derive merged levels, project the base table to
    * key + level keys, dedup every table on its key, and join the
    * denormalized table (lazy — no Spark job).
    */
  def build(
      name: String,
      key: String,
      hierarchies: ListMap[String, Hierarchy],
      flat: DataFrame
  ): Dimension = {
    val hs = if (hierarchies.nonEmpty) hierarchies
             else ListMap("default" -> Hierarchy.flat(key))
    val cols = flat.columns.toSet
    hs.values.flatMap(h => h.levels.keys ++ h.levels.values.flatten).foreach {
      c => require(cols.contains(c),
        s"hierarchy column '$c' missing from dimension '$name' input")
    }
    // Union of levels across hierarchies, merged by level key
    // (R/dimension.R:33-40): properties are the union of each hierarchy's
    // attribute list for that key.
    val merged: ListMap[String, Seq[String]] =
      hs.values.flatMap(_.levels).foldLeft(ListMap.empty[String, Seq[String]]) {
        case (acc, (lk, props)) =>
          acc.updated(lk, (acc.getOrElse(lk, Seq.empty) ++ props).distinct)
      }
    // The natural key is always a level (carries any leftover columns? no —
    // the reference keeps key-level properties as declared; undeclared
    // columns are simply not queryable).
    val withKey =
      if (merged.contains(key)) merged else merged.updated(key, Seq.empty)
    val levels = withKey.map { case (lk, props) =>
      lk -> Level(lk, props,
        flat.select((lk +: props).map(col): _*).dropDuplicates(Seq(lk)))
    }
    val base = flat
      .select((key +: withKey.keys.toSeq).distinct.map(col): _*)
      .dropDuplicates(Seq(key))
    // Level tables are usually small -> broadcast joins, but an order-grain
    // level scales with the fact, so the hint goes through the size-guarded
    // `Joins.maybeBroadcast` policy.
    val denormalized =
      levels.values.filter(_.properties.nonEmpty).foldLeft(base) { (acc, lvl) =>
        acc.join(Joins.maybeBroadcast(lvl.data), Seq(lvl.key), "left")
      }
    Dimension(name, key, hs, levels, base, denormalized)
  }
}
