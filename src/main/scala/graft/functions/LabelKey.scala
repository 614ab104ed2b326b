package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Cast, EqualTo, Expression, If, Literal, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DoubleType, FloatType, StringType}

/** The key a fitted label encoding looks a value up by: its string form,
  * with a float or double −0.0 keyed as `0.0`, the label the fit folded it
  * into (NaN keeps `NaN`, which no fit labels). The fold needs the input's
  * type, so the expression replaces itself once its child is resolved.
  */
case class LabelKey(child: Expression) extends UnaryExpression with RuntimeReplaceable {

  override lazy val replacement: Expression = {
    val folded = child.dataType match {
      case FloatType => If(EqualTo(child, Literal(0.0f)), Literal(0.0f), child)
      case DoubleType => If(EqualTo(child, Literal(0.0)), Literal(0.0), child)
      case _ => child
    }
    Cast(folded, StringType, Option(SQLConf.get.sessionLocalTimeZone))
  }

  override protected def withNewChildInternal(newChild: Expression): LabelKey =
    copy(child = newChild)

  override def prettyName: String = "label_key"
}

object LabelKey {
  def label_key(c: Column): Column = ColumnBridge.column(LabelKey(ColumnBridge.expression(c)))
}
