package graft.chain

import graft.functions.U256
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Effective-schema resolution — the Spark rendering of the reference's
  * column-selection semantics (cryo types/schemas.rs:168-237):
  *
  *   effective = explicit `columns` override (with `all` wildcard), or
  *               defaults ∪ include ∖ exclude
  *
  * Unknown names in include/exclude for *this* table are skipped
  * permissively (the cross-dataset "globally unknown" error lives at the
  * query layer); unknown names in an explicit `columns` list error.
  * Output order follows the dataset's declared column order.
  */
object TableSchema {

  def resolve(
      ds: DatasetDef,
      include: Seq[String] = Seq.empty,
      exclude: Seq[String] = Seq.empty,
      columns: Option[Seq[String]] = None): Seq[String] = {
    val known = ds.columnNames.toSet
    columns match {
      case Some(cols) if cols == Seq("all") => ds.columnNames
      case Some(cols) =>
        val unknown = cols.filterNot(known)
        require(unknown.isEmpty, s"unknown columns for ${ds.name}: ${unknown.mkString(",")}")
        // explicit list keeps user order (schemas.rs explicit-columns path)
        cols.distinct
      case None =>
        val inc =
          if (include.contains("all")) ds.columnNames
          else include.filter(known) // permissive skip of unknown includes
        val used = (ds.defaultColumns ++ inc).toSet -- exclude.toSet
        ds.columnNames.filter(used)
    }
  }

  /** The output columns of a built table: the columns `resolve` selects,
    * in its order. A u256 column maps to its `<name>_<suffix>` columns the
    * frame holds (and to itself, where a builder keeps it raw), a
    * selected column the builder left out for this input is skipped, and
    * the `event__*` columns an event decode appends are kept. Entity
    * filters run before it, so they may read any built column. */
  def select(df: DataFrame, ds: DatasetDef, include: Seq[String],
      exclude: Seq[String], columns: Option[Seq[String]]): DataFrame = {
    val suffixes = U256.allReprs.map("_" + _.suffix)
    val kept = resolve(ds, include, exclude, columns).flatMap { c =>
      df.columns.filter(p => p == c ||
        ds.u256Columns.contains(c) && suffixes.exists(c + _ == p))
    } ++ df.columns.filter(_.startsWith("event__"))
    df.select(kept.map(col).toSeq: _*)
  }

  /** default sort per cryo types/columns.rs:34-51: as declared, with
    * transaction_index dropped when log_index present. */
  def defaultSort(ds: DatasetDef): Seq[String] =
    if (ds.sortColumns.contains("log_index"))
      ds.sortColumns.filterNot(_ == "transaction_index")
    else ds.sortColumns

  /** the default sort keys among the columns a frame holds */
  def sortKeys(ds: DatasetDef, used: Seq[String]): Seq[String] =
    defaultSort(ds).filter(used.contains)
}
