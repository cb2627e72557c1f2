package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.unsafe.types.UTF8String

import graft.xml.{XmlChildrenExpr, XmlElementValueExpr}

/** SQL-surface registration: exposes the engine's custom expressions to
  * `spark.sql(...)` users. Column-API equivalents live in graft.xml /
  * graft.functions.
  *
  * SQL forms:
  *   xml_children(xml, 'pat1,pat2', fromRoot)
  *                                  -> array<struct<tag,xml,value,attrs>>
  *   xml_element_value(xml)         -> string
  */
object Register {

  private def litString(e: Expression, what: String): String = e match {
    case Literal(s: UTF8String, _) => s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got: $other")
  }
  private def litBool(e: Expression, what: String): Boolean = e match {
    case Literal(b: java.lang.Boolean, _) => b.booleanValue()
    case other => throw new IllegalArgumentException(
      s"$what must be a boolean literal, got: $other")
  }
  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(i: java.lang.Integer, _) => i.intValue()
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got: $other")
  }

  def all(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("xml_children", exprs => {
      require(exprs.length == 3,
        "xml_children(xml, 'patterns,comma,separated', fromRoot)")
      val pats = litString(exprs(1), "patterns").split(",")
        .map(_.trim).filter(_.nonEmpty).toSeq
      XmlChildrenExpr(exprs.head, pats, litBool(exprs(2), "fromRoot"))
    }, "scala_udf")
    reg.createOrReplaceTempFunction("xml_element_value", exprs => {
      require(exprs.length == 1, "xml_element_value(xml)")
      XmlElementValueExpr(exprs.head)
    }, "scala_udf")
    reg.createOrReplaceTempFunction("xml_explode_children", exprs => {
      require(exprs.length == 3,
        "xml_explode_children(xml, 'patterns,comma,separated', fromRoot)")
      val pats = litString(exprs(1), "patterns").split(",")
        .map(_.trim).filter(_.nonEmpty).toSeq
      graft.xml.XmlExplodeChildren(exprs.head, pats,
        litBool(exprs(2), "fromRoot"))
    }, "scala_udf")
    reg.createOrReplaceTempFunction("nfc_normalize", exprs => {
      require(exprs.length == 1, "nfc_normalize(str)")
      graft.functions.NfcNormalizeExpr(exprs.head)
    }, "scala_udf")
    reg.createOrReplaceTempFunction("zorder16", exprs => {
      require(exprs.length == 2, "zorder16(x BIGINT, y BIGINT)")
      graft.functions.ZOrderExpr(exprs.head, exprs(1))
    }, "scala_udf")
    reg.createOrReplaceTempFunction("shingle_set", exprs => {
      require(exprs.length == 2, "shingle_set(text, n)")
      graft.functions.ShingleSetExpr(exprs.head,
        litInt(exprs(1), "n"))
    }, "scala_udf")
    reg.createOrReplaceTempFunction("shingles", exprs => {
      require(exprs.length == 2, "shingles(text, n)")
      graft.functions.ShingleSetExpr(exprs.head,
        litInt(exprs(1), "n"), distinct = false)
    }, "scala_udf")
    // mergeable MinHash union over array<bigint> signatures of length 8
    // (the engine's default k; other widths via the Column API)
    spark.udf.register("minhash_union8",
      org.apache.spark.sql.functions.udaf(
        new graft.functions.MinhashUnionAgg(8),
        org.apache.spark.sql.catalyst.encoders
          .ExpressionEncoder[Seq[Long]]()))
  }
}
