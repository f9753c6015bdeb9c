package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{BloomProbe, BpeEncode, BpeEncodeTbl, DotProduct, Hash60Expr, Int8Decode, IvfCell, IvfProbes, PqXhat, StopLen, Kmv, MisraGries, PqDecode, StemWord, TopK}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.{BinaryType, IntegerType}

/** Engine extension point, installed by [[Session.local]] with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`. Registers the engine's native
  * Catalyst expressions so they are usable from both the Column API
  * (`call_function`) and plain SQL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_stem"),
      new ExpressionInfo(classOf[StemWord].getName, "graft_stem"),
      (children: Seq[Expression]) => StemWord(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_bpe"),
      new ExpressionInfo(classOf[BpeEncode].getName, "graft_bpe"),
      (children: Seq[Expression]) => BpeEncode(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_bpe_tbl"),
      new ExpressionInfo(classOf[BpeEncodeTbl].getName, "graft_bpe_tbl"),
      (children: Seq[Expression]) => {
        if (children.length != 2) throw new IllegalArgumentException(
          s"graft_bpe_tbl takes (token, spec STRING literal), got ${children.length} args")
        val spec = children(1) match {
          case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
          case other => throw new IllegalArgumentException(
            s"graft_bpe_tbl spec must be a STRING literal, got $other")
        }
        BpeEncodeTbl(children.head, spec)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_mg_candidates"),
      new ExpressionInfo(classOf[MisraGries].getName, "graft_mg_candidates"),
      (children: Seq[Expression]) => {
        if (children.length != 2) throw new IllegalArgumentException(
          s"graft_mg_candidates takes (item, capacity INT), got ${children.length} args")
        val capacity = children(1) match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"graft_mg_candidates capacity must be an INT literal, got $other")
        }
        MisraGries(children.head, capacity)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_kmv"),
      new ExpressionInfo(classOf[Kmv].getName, "graft_kmv"),
      (children: Seq[Expression]) => {
        if (children.length != 2) throw new IllegalArgumentException(
          s"graft_kmv takes (hash BIGINT, k INT literal), got ${children.length} args")
        val k = children(1) match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"graft_kmv k must be an INT literal, got $other")
        }
        Kmv(children.head, k)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_probe"),
      new ExpressionInfo(classOf[BloomProbe].getName, "graft_bloom_probe"),
      (children: Seq[Expression]) => {
        if (children.length != 2) throw new IllegalArgumentException(
          s"graft_bloom_probe takes (bloom BINARY literal, key BIGINT), got ${children.length} args")
        val bytes = children.head match {
          case Literal(v: Array[Byte], BinaryType) => v
          case other => throw new IllegalArgumentException(
            s"graft_bloom_probe bloom must be a BINARY literal, got $other")
        }
        BloomProbe(bytes, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_pq_decode"),
      new ExpressionInfo(classOf[PqDecode].getName, "graft_pq_decode"),
      (children: Seq[Expression]) => {
        if (children.length != 3) throw new IllegalArgumentException(
          s"graft_pq_decode takes (cell BIGINT, codes ARRAY<BIGINT>, " +
            s"spec STRING literal), got ${children.length} args")
        val spec = children(2) match {
          case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
          case other => throw new IllegalArgumentException(
            s"graft_pq_decode spec must be a STRING literal, got $other")
        }
        PqDecode(children(0), children(1), spec)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_int8_decode"),
      new ExpressionInfo(classOf[Int8Decode].getName, "graft_int8_decode"),
      (children: Seq[Expression]) => {
        if (children.length != 2) throw new IllegalArgumentException(
          s"graft_int8_decode takes (codes ARRAY<BIGINT>, spec STRING " +
            s"literal), got ${children.length} args")
        val spec = children(1) match {
          case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
          case other => throw new IllegalArgumentException(
            s"graft_int8_decode spec must be a STRING literal, got $other")
        }
        Int8Decode(children.head, spec)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_ivf_cell"),
      new ExpressionInfo(classOf[IvfCell].getName, "graft_ivf_cell"),
      (children: Seq[Expression]) => {
        if (children.length != 2) throw new IllegalArgumentException(
          s"graft_ivf_cell takes (v ARRAY<DOUBLE>, spec STRING literal), " +
            s"got ${children.length} args")
        val spec = children(1) match {
          case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
          case other => throw new IllegalArgumentException(
            s"graft_ivf_cell spec must be a STRING literal, got $other")
        }
        IvfCell(children.head, spec)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_ivf_probes"),
      new ExpressionInfo(classOf[IvfProbes].getName, "graft_ivf_probes"),
      (children: Seq[Expression]) => {
        if (children.length != 3) throw new IllegalArgumentException(
          s"graft_ivf_probes takes (v ARRAY<DOUBLE>, spec STRING literal, " +
            s"n INT literal), got ${children.length} args")
        val spec = children(1) match {
          case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
          case other => throw new IllegalArgumentException(
            s"graft_ivf_probes spec must be a STRING literal, got $other")
        }
        val n = children(2) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"graft_ivf_probes n must be an INT literal, got $other")
        }
        IvfProbes(children.head, spec, n)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_pq_xhat"),
      new ExpressionInfo(classOf[PqXhat].getName, "graft_pq_xhat"),
      (children: Seq[Expression]) => {
        if (children.length != 2) throw new IllegalArgumentException(
          s"graft_pq_xhat takes (v ARRAY<DOUBLE>, spec STRING literal), " +
            s"got ${children.length} args")
        val spec = children(1) match {
          case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
          case other => throw new IllegalArgumentException(
            s"graft_pq_xhat spec must be a STRING literal, got $other")
        }
        PqXhat(children.head, spec)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_stop_len"),
      new ExpressionInfo(classOf[StopLen].getName, "graft_stop_len"),
      (children: Seq[Expression]) => {
        if (children.length != 1) throw new IllegalArgumentException(
          s"graft_stop_len takes (w ARRAY<STRING>), got ${children.length} args")
        StopLen(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[graft.functions.SimHash48].getName,
        "graft_simhash"),
      (children: Seq[Expression]) => {
        if (children.length != 1) throw new IllegalArgumentException(
          s"graft_simhash takes (w ARRAY<STRING>), got ${children.length} args")
        graft.functions.SimHash48(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_min_gram_md5"),
      new ExpressionInfo(classOf[graft.functions.MinGramMd5].getName,
        "graft_min_gram_md5"),
      (children: Seq[Expression]) => {
        if (children.length != 2) throw new IllegalArgumentException(
          s"graft_min_gram_md5 takes (text STRING, n INT literal), " +
            s"got ${children.length} args")
        val n = children(1) match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"graft_min_gram_md5 n must be an INT literal, got $other")
        }
        graft.functions.MinGramMd5(children.head, n)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_dsort"),
      new ExpressionInfo(classOf[graft.functions.DSort].getName, "graft_dsort"),
      (children: Seq[Expression]) => {
        if (children.length != 1) throw new IllegalArgumentException(
          s"graft_dsort takes (x DOUBLE), got ${children.length} args")
        graft.functions.DSort(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_dsort_inv"),
      new ExpressionInfo(classOf[graft.functions.DSortInv].getName,
        "graft_dsort_inv"),
      (children: Seq[Expression]) => {
        if (children.length != 1) throw new IllegalArgumentException(
          s"graft_dsort_inv takes (bits BIGINT), got ${children.length} args")
        graft.functions.DSortInv(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("graft_h60"),
      new ExpressionInfo(classOf[Hash60Expr].getName, "graft_h60"),
      (children: Seq[Expression]) => Hash60Expr(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopK].getName, "graft_topk"),
      (children: Seq[Expression]) => {
        if (children.length != 3) throw new IllegalArgumentException(
          s"graft_topk takes (score BIGINT, tag STRING, k INT), got ${children.length} args")
        val k = children(2) match {
          case Literal(v: Int, IntegerType) => v
          case other => throw new IllegalArgumentException(
            s"graft_topk k must be an INT literal, got $other")
        }
        TopK(children(0), children(1), k)
      }))
    // whole-operator extension (SURVEY §7 point (c)): the native sorted-
    // merge AS-OF join — logical node graft.plans.GraftAsOfJoin, planned
    // by this strategy into GraftAsOfJoinExec
    ext.injectPlannerStrategy(_ => graft.plans.GraftStrategies)
  }
}
