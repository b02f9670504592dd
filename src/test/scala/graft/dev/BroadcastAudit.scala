package graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** One-off dev audit: for every registered query, print each BROADCAST-hinted
  * subtree that the PlanHygieneSpec bounded rules do NOT already clear, with
  * its aggregate grouping keys and leaf tables — input for designing the
  * bounded-vocabulary rule. Not part of the shipped surface; the fixture dir
  * comes from args(0) (like GenSf1 / SimBlockAudit).
  */
object BroadcastAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.envCpus, None)
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val factTables = Seq("lineitem", "orders", "events", "documents", "embeddings")

    def factLeaves(p: LogicalPlan): Seq[String] = p.collectLeaves().flatMap {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation =>
          val name = h.location.rootPaths.headOption.map(_.getName).getOrElse("")
          if (factTables.exists(name.startsWith)) Some(name) else None
        case _ => Some("unknown-relation")
      }
      case _: LogicalRDD => Some("rdd")
      case _ => None
    }
    def isBoundedIdCap(e: Expression): Boolean = e.exists {
      case LessThan(a: AttributeReference, r) => r.foldable && a.name.endsWith("_id")
      case LessThanOrEqual(a: AttributeReference, r) => r.foldable && a.name.endsWith("_id")
      case _ => false
    }
    def capped(p: LogicalPlan): Boolean = p.collectFirst {
      case _: GlobalLimit => ()
      case _: LocalLimit => ()
      case a: Aggregate if a.groupingExpressions.isEmpty => ()
      case f: Filter if isBoundedIdCap(f.condition) => ()
    }.nonEmpty

    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val analyzed = fn(spark, sf).queryExecution.analyzed
        val bad = analyzed.collectWithSubqueries {
          case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) &&
            !capped(h.child) && factLeaves(h.child).nonEmpty => h.child
        }
        bad.foreach { c =>
          // topmost aggregate's grouping keys, if any
          val aggs = c.collectFirst { case a: Aggregate => a.groupingExpressions.map(_.sql).mkString(",") }
          val ded = c.collectFirst { case d: Deduplicate => d.keys.map(_.name).mkString(",") }
          val nodes = c.collect { case n => n.nodeName }.take(6).mkString(">")
          println(s"AUDIT\t$name\tleaves=${factLeaves(c).distinct.mkString("+")}\tgroup=[${aggs.getOrElse("-")}]\tdedup=[${ded.getOrElse("-")}]\tout=[${c.output.map(_.name).mkString(",")}]\tnodes=$nodes")
        }
      } catch {
        case e: Throwable => println(s"AUDIT-ERR\t$name\t${e.getClass.getSimpleName}: ${e.getMessage.take(100)}")
      }
    }
    spark.stop()
  }
}
