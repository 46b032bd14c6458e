package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MERGE INTO (upsert) semantics as a batch DataFrame operator — the
  * lakehouse write pattern the reference approximates with
  * WRITE_APPEND + dbt full refresh (`healthcare_etl_pipeline.py:296-339`
  * never updates in place; corrections would arrive as new rows). This
  * operator gives the engine a real upsert:
  *
  *  - source rows whose key matches a target row UPDATE it (column
  *    subset via `updateCols`, full row by default);
  *  - unmatched source rows INSERT;
  *  - matched rows satisfying `deleteMatched` are DELETED.
  *
  * Implemented as ONE full-outer shuffle join on the key (both sides
  * hash-partition once; with AQE a small source side downgrades to a
  * broadcast-ish plan automatically). Update/insert/delete resolution
  * is pure projection — `coalesce` per column with source priority —
  * so the whole merge is two exchanges max and stays in whole-stage
  * codegen. Pair with `Lakehouse.refreshFactIncremental`-style
  * partition-scoped rewrites (`Zones.replacePartitions`) to apply it:
  * at 100 TB you merge per affected partition, not the whole table.
  *
  * Requirements: `source` columns ⊆ `target` columns (missing target
  * columns null-fill on insert); key columns present and non-null on
  * both sides (null keys would silently fail to match — caller
  * pre-filters, mirroring the staging NOT NULL gates).
  */
object Merge {

  def upsert(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      updateCols: Option[Seq[String]] = None,
      deleteMatched: Option[Column] = None): DataFrame = {
    val targetCols = target.columns.toSeq
    val sourceCols = source.columns.toSet
    require(keys.nonEmpty, "merge: at least one key column")
    require(keys.forall(sourceCols.contains) && keys.forall(targetCols.contains),
      s"merge: keys $keys must exist on both sides")
    require(sourceCols.subsetOf(targetCols.toSet),
      s"merge: source columns ${sourceCols -- targetCols} missing from target")
    val updatable = updateCols.getOrElse((sourceCols -- keys).toSeq)
    require(updatable.forall(sourceCols.contains), "merge: updateCols must exist in source")

    val t = target.select(targetCols.map(c => col(c).as(s"__t_$c")): _*)
    val s = source.select(source.columns.toSeq.map(c => col(c).as(s"__s_$c")): _*)
    val cond = keys.map(k => t(s"__t_$k") === s(s"__s_$k")).reduce(_ && _)
    val joined = t.join(s, cond, "full_outer")

    val matched = col(s"__t_${keys.head}").isNotNull && col(s"__s_${keys.head}").isNotNull
    val resolved = targetCols.map { c =>
      val out =
        if (keys.contains(c)) coalesce(col(s"__t_$c"), col(s"__s_$c"))
        else if (updatable.contains(c) && sourceCols.contains(c))
          when(col(s"__s_${keys.head}").isNotNull, col(s"__s_$c")).otherwise(col(s"__t_$c"))
        else if (sourceCols.contains(c))
          // Resolve by matched-ness, not null-ness: a matched row keeps its
          // target value even when that value is legitimately NULL (the
          // caller excluded this column from updates); only pure inserts
          // take the source value.
          when(col(s"__t_${keys.head}").isNotNull, col(s"__t_$c")).otherwise(col(s"__s_$c"))
        else col(s"__t_$c") // insert of a source row null-fills this column
      out.as(c)
    }
    // deleteMatched sees the post-update row under the ordinary column
    // names (WHEN MATCHED AND cond THEN DELETE, cond over updated values).
    val withFlag = joined.select(resolved :+ matched.as("__matched"): _*)
    deleteMatched
      // NULL-evaluating predicates must NOT delete (SQL MERGE: WHEN MATCHED
      // AND <null> THEN DELETE keeps the row), so default the predicate to
      // false before negating.
      .map(pred => withFlag.filter(!(col("__matched") && coalesce(pred, lit(false)))))
      .getOrElse(withFlag)
      .drop("__matched")
  }
}
