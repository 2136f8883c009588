package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.expr

/** Deterministic random hyperplanes shared by the ANN LSH path
  * (graft.ann.Ann#a28AnnLsh) and the bucketed embedding near-dup
  * (graft.dedup.Dedup#d28EmbedNeardupLsh).
  *
  * 32 planes × 64 dims from a fixed-seed generator, inlined as
  * literal decimal strings: the SAME strings are emitted into both
  * the Spark and DuckDB dialects, so both parse to bit-identical
  * doubles and the sign buckets are byte-reproducible cross-engine —
  * which is what makes an exact DuckDB oracle possible for an LSH
  * operator. a28 takes the first 8 planes; Seq.fill draws row-major
  * from one seeded generator, so those 8 are the same whatever the
  * total drawn, and a28's output does not depend on the 32 here.
  */
object Hyperplanes {

  val planeStrs: Seq[Seq[String]] = {
    val rng = new scala.util.Random(42)
    // Locale.ROOT: a comma-decimal default locale would emit "0,51…"
    // and break both SQL dialects
    Seq.fill(32, 64)(rng.nextGaussian())
      .map(_.map(v => String.format(java.util.Locale.ROOT, "%.17g", Double.box(v))))
  }

  /** Spark SQL array-of-arrays literal of the first n planes. */
  def planesSql(n: Int): String =
    planeStrs.take(n).map(_.map(_ + "D").mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")

  /** DuckDB list literal for plane i (0-based). */
  def planeDuck(i: Int): String =
    planeStrs(i).mkString("[", ",", "]")

  /** Per-plane weight for the AUGMENTED 65th coordinate used by the
    * MIPS reduction (graft.ann.Ann#a41AnnMips): corpus vectors gain
    * one extra dim sqrt(M²−‖x‖²), queries a 0 — so the query-side
    * bucket is exactly [[signBucketExpr]] while the corpus side adds
    * aug_i · aug to each plane's dot before the sign. Drawn from an
    * independent fixed seed so the base 64-dim planes are unchanged
    * for every existing consumer. */
  val augStrs: Seq[String] = {
    val rng = new scala.util.Random(43)
    Seq.fill(32)(rng.nextGaussian())
      .map(v => String.format(java.util.Locale.ROOT, "%.17g", Double.box(v)))
  }

  /** Spark SQL array literal of the first n augmented-dim weights. */
  def augSql(n: Int): String =
    augStrs.take(n).map(_ + "D").mkString("array(", ",", ")")

  /** The augmented-dim weight of plane i (0-based), as a SQL-literal
    * decimal string — identical in both dialects. */
  def augDuck(i: Int): String = augStrs(i)

  /** Corpus-side LSH bands of the MIPS-augmented vector [x, aug]:
    * the SAME shape as [[bandsExpr]], with each plane's sign taken on
    * x · plane_i + aug_i · aug. The 64-dim fold is the identical
    * zip_with/aggregate form; the single augmented term is added
    * after the fold, mirroring the oracle's list_sum(...) + aug_i·aug. */
  def augBandsExpr(embCol: String, augCol: String,
      nBands: Int, planesPerBand: Int): Column = expr(
    s"""transform(sequence(0, ${nBands - 1}), b ->
       |  aggregate(sequence(0, ${planesPerBand - 1}), CAST(0 AS BIGINT), (acc, j) ->
       |    acc + IF(aggregate(zip_with(
       |                element_at(${planesSql(nBands * planesPerBand)}, $planesPerBand * b + j + 1),
       |                $embCol, (p, x) -> p * CAST(x AS DOUBLE)),
       |              0D, (s, v) -> s + v)
       |               + element_at(${augSql(nBands * planesPerBand)}, $planesPerBand * b + j + 1) * $augCol > 0,
       |             shiftleft(1, j), 0)))""".stripMargin)

  /** Sign-bucket id over the first nPlanes planes:
    * bit i = (embedding · plane_i) > 0. The dot product uses the
    * zip_with/aggregate double formulation so the oracle's
    * list_zip/list_sum computes the identical IEEE sum. */
  def signBucketExpr(embCol: String, nPlanes: Int): Column = expr(
    s"""aggregate(sequence(0, ${nPlanes - 1}), 0, (acc, i) ->
       |  acc + IF(aggregate(zip_with(element_at(${planesSql(nPlanes)}, i + 1), $embCol,
       |                              (p, x) -> p * CAST(x AS DOUBLE)),
       |                     0D, (s, v) -> s + v) > 0,
       |           shiftleft(1, i), 0))""".stripMargin)

  /** LSH band array: nBands values, band b = the planesPerBand-bit
    * sign bucket of planes [b*planesPerBand, (b+1)*planesPerBand).
    * Emitted as array<bigint> so FirstEqualBand (ArrayType(Long))
    * can serve as the emit-once join predicate. */
  def bandsExpr(embCol: String, nBands: Int, planesPerBand: Int): Column = expr(
    s"""transform(sequence(0, ${nBands - 1}), b ->
       |  aggregate(sequence(0, ${planesPerBand - 1}), CAST(0 AS BIGINT), (acc, j) ->
       |    acc + IF(aggregate(zip_with(
       |                element_at(${planesSql(nBands * planesPerBand)}, $planesPerBand * b + j + 1),
       |                $embCol, (p, x) -> p * CAST(x AS DOUBLE)),
       |              0D, (s, v) -> s + v) > 0,
       |             shiftleft(1, j), 0)))""".stripMargin)

  /** DuckDB expression for one band value (0-based band b). */
  def bandDuck(embCol: String, b: Int, planesPerBand: Int): String =
    (0 until planesPerBand).map { j =>
      s"""(CASE WHEN list_sum(list_transform(list_zip(${planeDuck(b * planesPerBand + j)}, $embCol),
         |   p -> p[1] * CAST(p[2] AS DOUBLE))) > 0 THEN ${1 << j} ELSE 0 END)""".stripMargin
    }.mkString(" + ")
}
