package graft.flow

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A node in the named DAG of cumulative selections — the reference's
  * signature dataflow abstraction (`Selection.refine`, reference
  * phaseII-analysis.py:349-363; 51 siblings in jet_test.py:416-518).
  *
  * Each node adds a cut and an optional multiplicative weight factor on top
  * of its parent; every plot/yield attaches to a node. Materialization
  * (`SelectionFlow.withFlags`) computes one boolean column and one weight
  * column per node, children referencing the parent's columns — so shared
  * prefixes are evaluated exactly once per event, the same sharing
  * RDataFrame's filter graph gives the reference (SURVEY.md §4). All flags
  * live in ONE projection: a single scan evaluates the whole DAG.
  */
final class Selection private (
    val name: String,
    val parent: Option[Selection],
    val cut: Column,
    val weightFactor: Column) {

  /** Child selection = this ∧ cut, with an extra weight factor. */
  def refine(name: String, cut: Column = lit(true), weight: Column = lit(1.0)): Selection =
    new Selection(name, Some(this), cut, weight)

  /** Root→this path. */
  def chain: Seq[Selection] = parent.map(_.chain).getOrElse(Nil) :+ this

  def flagCol: String = s"__sel_${name}_pass"
  def weightCol: String = s"__sel_${name}_w"
  def flag: Column = col(flagCol)
  def weight: Column = col(weightCol)

  override def toString: String = s"Selection($name)"
}

object Selection {
  /** The no-cut root selection (the reference's `noSel`,
    * phaseII-analysis.py:17-19). `weight` is the per-event base weight. */
  def root(name: String = "noSel", weight: Column = lit(1.0)): Selection =
    new Selection(name, None, lit(true), weight)
}

object SelectionFlow {

  /** All distinct nodes reachable from `leaves`, parents before children. */
  def nodes(leaves: Seq[Selection]): Seq[Selection] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[Selection]
    leaves.foreach(_.chain.foreach(seen.add))
    seen.toSeq
  }

  /** Materialize flag + weight columns for every node in one projection.
    * Children AND the parent's flag column, so each cut is evaluated once
    * and codegen dedups the shared prefix (SURVEY.md §4 "shared filter
    * prefixes"). */
  def withFlags(df: DataFrame, leaves: Seq[Selection]): DataFrame = {
    // Each withColumns is one analysis, so nodes share one until a node
    // reads a column of the current batch (or reuses a name in it): one
    // batch per depth on a chain or a star, columns in `nodes` order.
    // Catalyst's CollapseProject merges the batches into one projection.
    val batches = nodes(leaves).foldLeft(Vector.empty[Vector[Selection]]) { (bs, s) =>
      if (bs.nonEmpty && !bs.last.exists(b => s.parent.contains(b) || b.name == s.name))
        bs.init :+ (bs.last :+ s)
      else bs :+ Vector(s)
    }
    batches.foldLeft(df) { (acc, batch) =>
      val cols = batch.flatMap { s =>
        val (flagExpr, wExpr) = s.parent match {
          case None => (s.cut, s.weightFactor)
          case Some(p) => (col(p.flagCol) && s.cut, col(p.weightCol) * s.weightFactor)
        }
        Seq(s.flagCol -> flagExpr, s.weightCol -> wExpr)
      }
      acc.withColumns(ListMap(cols: _*))
    }
  }
}
