package graft.robots

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

import graft.model.{RobotsLine, RobotsRule}

/**
 * Host → robots-rule lookup (J3) as one hash probe per row, in codegen.
 * The table is broadcast once per pipeline: unlike a broadcast join
 * against a local relation of the same rows, no wave runs a Spark job to
 * build it, and unlike a map literal (whose `GetMapValue` scans the keys
 * linearly) a row costs O(1) whatever the number of robots hosts.
 *
 * The value is `struct<_1: array<struct<allow, path>>, _2: double,
 * _3: boolean>` — (effective rules, crawl delay, robots failed) — and
 * null for a host without robots.
 */
case class HostRules(child: Expression,
                     table: Broadcast[java.util.HashMap[UTF8String, InternalRow]],
                     dataType: DataType) extends UnaryExpression {
  override def nullable: Boolean = true

  @transient private lazy val byHost = table.value

  override def nullSafeEval(host: Any): Any = byHost.get(host)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("robotsTable", table)
    // fetched once per partition, not once per row
    val byHostVar = ctx.addMutableState("java.util.HashMap", "robotsByHost",
      v => s"$v = (java.util.HashMap) $ref.value();")
    nullSafeCodeGen(ctx, ev, h =>
      s"""${ev.value} = (${CodeGenerator.javaType(dataType)}) $byHostVar.get($h);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): HostRules =
    copy(child = newChild)
  override def prettyName: String = "host_rules"
}

object HostRules {
  /** The lookup of `host` in `robots`, whose hosts must be unique. */
  def lookup(spark: SparkSession, robots: Seq[RobotsRule], host: Column): Column = {
    val dup = robots.map(_.host).diff(robots.map(_.host).distinct)
    require(dup.isEmpty, s"robots hosts must be unique: $dup")
    val enc = ExpressionEncoder[(Seq[RobotsLine], Double, Boolean)]()
    val toRow = enc.createSerializer()
    val table = new java.util.HashMap[UTF8String, InternalRow]()
    robots.foreach { r =>
      table.put(UTF8String.fromString(r.host),
        toRow((r.effectiveRules, r.crawlDelay, r.robotsFailed)).copy())
    }
    GraftBridge.column(HostRules(GraftBridge.expression(host),
      spark.sparkContext.broadcast(table), enc.schema))
  }
}
