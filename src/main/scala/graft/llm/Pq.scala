package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Product quantization over the frozen [[PqCodebook]]: encode = per
  * subspace, the first index minimizing the (expanded) squared distance
  * to the 16 centroids; the "code" is materialized directly as the
  * RECONSTRUCTION x̂ (chosen centroids concatenated), so the asymmetric
  * PQ distance is just L2²(q, x̂) on existing dot primitives.
  *
  * Why it matters at 100 TB: x̂ stands in for an 8-byte code per vector
  * (M=8 subspaces × 4 bits) versus 256 bytes of float32 — a 32×
  * memory/IO compression for the candidate-ranking stage; here the
  * reconstruction is kept inline because the engines compare VALUES, not
  * storage. Every step is the identical expression tree in Spark and
  * DuckDB (strict left-fold dots, literal centroids, first-min argmin),
  * so PQ ranking is exact-oracle-able.
  */
object Pq {

  import PqCodebook.{M, SubDim, K, books}

  /** ||c||² by the strict left fold (= DuckDB `list_dot_product(c, c)`). */
  private def csq(c: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < c.length) { val x = c(i); s += x * x; i += 1 }
    s
  }

  private def c2(m: Int, k: Int): Double = csq(books(m)(k))

  /** PQ reconstruction x̂ of a 64-dim `array<double>` column over an
    * arbitrary books geometry (the ServeBooks-trained path): per
    * subspace argmin_k (||c||² − 2·v_m·c) — the ||v_m||² term is common
    * to all k and dropped — then the chosen centroid, concatenated. */
  def reconstructWith(bks: Array[Array[Array[Double]]])(v: Column): Column =
    // ONE native node carrying the books as a plan-literal spec
    // (graft.functions.PqXhat): the composed per-subspace argmin trees
    // cost ~0.5 s of driver planning/codegen per execution (q64's
    // driver-share reading — the q164/q129 pathology); arithmetic is
    // bit-identical to the old form, and reconstructSql stays its
    // DuckDB twin.
    call_function("graft_pq_xhat", v,
      lit(graft.functions.PqXhatTable.toSpec(bks)))

  /** [[reconstructWith]] over the frozen [[PqCodebook]] — the
    * stream-start snapshot path (StreamEmbedDedupPq). */
  def reconstruct(v: Column): Column = reconstructWith(books)(v)

  /** PQ ENCODE: the chosen codeword id per subspace (0-based), as
    * array<bigint> — the 8-byte-code form an index stores
    * (ServeBooks.pqResCodes persists it; the native
    * graft.functions.PqDecode expression is the O(1) lookup inverse).
    * Same argmin arithmetic and tie rule as
    * [[reconstructWith]]. */
  def encodeWith(bks: Array[Array[Array[Double]]])(v: Column): Column = {
    val nSub = bks.length
    val subDim = bks(0)(0).length
    val parts = (0 until nSub).map { m =>
      val vm = slice(v, m * subDim + 1, subDim)
      val dists = bks(m).map { c =>
        lit(csq(c)) - lit(2.0) * VectorOps.dot(vm, array(c.map(lit(_)): _*))
      }
      val arr = array(dists.toSeq: _*)
      (array_position(arr, array_min(arr)) - 1).cast("long")
    }
    array(parts: _*)
  }

  // (reconstruction from stored codes lives in the native
  // graft.functions.PqDecode expression — one plan node carrying the
  // books as a spec literal; a composed-Column decode was measured to
  // bloat planning and was removed)

  /** SQL twin of [[reconstruct]] over a DOUBLE[] expression. */
  def reconstructSql(v: String): String = {
    val parts = (0 until M).map { m =>
      val vm = s"$v[${m * SubDim + 1}:${(m + 1) * SubDim}]"
      val dists = (0 until K).map { k =>
        val c = books(m)(k).mkString("[", ", ", "]")
        s"(${c2(m, k)} - 2.0 * list_dot_product($vm, $c::DOUBLE[]))"
      }.mkString("[", ", ", "]")
      val bookArr = books(m).map(_.mkString("[", ", ", "]"))
        .mkString("[", ", ", "]")
      s"($bookArr::DOUBLE[][])[list_position($dists, list_min($dists))]"
    }
    parts.mkString("flatten([", ", ", "])")
  }

  /** Asymmetric PQ distance: L2²(q, x̂) = q·q − 2·q·x̂ + x̂·x̂. */
  def adc(q: Column, xhat: Column): Column =
    VectorOps.dot(q, q) - lit(2.0) * VectorOps.dot(q, xhat) +
      VectorOps.dot(xhat, xhat)

  def adcSql(q: String, xhat: String): String =
    s"(list_dot_product($q, $q) - 2.0 * list_dot_product($q, $xhat) " +
      s"+ list_dot_product($xhat, $xhat))"
}
