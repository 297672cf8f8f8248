package graft.chain

import graft.functions.{HexCodec, U256}
import org.apache.spark.sql.{Column, DataFrame}
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

  /** Project a canonical DataFrame (u256 columns as 32-byte binary) to the
    * physical output schema: u256 expansion + optional hex re-encoding of
    * binary columns (forced for CSV/JSON, cryo cli/parse/schemas.rs:37-40).
    */
  def project(
      df: DataFrame,
      ds: DatasetDef,
      used: Seq[String],
      u256Reprs: Seq[U256.Repr] = U256.defaultReprs,
      hex: Boolean = false): DataFrame = {
    val typeOf = ds.columns.toMap
    val cols: Seq[Column] = used.flatMap { name =>
      typeOf(name) match {
        case ColType.U256 =>
          u256Reprs.map { r =>
            val base = U256.repr(col(name), r)
            val alias = s"${name}_${r.suffix}"
            if (hex && r == U256.Binary) HexCodec.toHex(base).as(alias)
            else base.as(alias)
          }
        case ColType.Binary if hex =>
          Seq(HexCodec.toHex(col(name)).as(name))
        case _ => Seq(col(name))
      }
    }
    df.select(cols: _*)
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
