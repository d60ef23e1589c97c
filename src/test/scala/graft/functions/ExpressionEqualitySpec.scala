package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.graft._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}
import org.scalatest.funsuite.AnyFunSuite

/** The expressions that carry constant arrays (centroids, codebooks,
  * lookup tables) must compare by array CONTENT: two plans built from
  * separately read copies of the same layout tables have to canonicalize
  * to equal trees, or exchange reuse and the plan cache miss them.
  */
class ExpressionEqualitySpec extends AnyFunSuite {

  private val vec: Expression =
    Literal.create(Seq(0.5, -1.0, 2.0, 0.25), ArrayType(DoubleType))
  private val codes: Expression =
    Literal.create(Seq(1, 0), ArrayType(IntegerType))
  private val lut: Expression =
    Literal.create(Seq(0.1, 0.2, 0.3, 0.4), ArrayType(DoubleType))
  private val cell: Expression = Literal(1)
  private val qn: Expression = Literal(1.5)

  // fresh arrays on every call: equal content, never the same instance
  private def cents() = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0))
  private def cb() = Array(
    Array(Array(1.0, 0.0), Array(0.0, 1.0)),
    Array(Array(0.5, 0.5), Array(-0.5, 0.5)))
  private def tab() = Array(Array(1.0, 2.0), Array(3.0, 4.0))

  /** Each expression from fresh copies of its constants, with one
    * constant changed when `bump` is set.
    */
  private val cases: Seq[(String, Boolean => Expression)] = Seq(
    "NearestCentroid" -> (b => NearestCentroid(vec, bumped(cents(), b))),
    "NearestCentroids" -> (b => NearestCentroids(vec, bumped(cents(), b), 1)),
    "PqEncode" -> (b => PqEncode(vec, bumped3(cb(), b))),
    "PqAdcScore" -> (b => PqAdcScore(codes, tab(), bumped(tab(), b), 2.0)),
    "PqQueryLut" -> (b => PqQueryLut(vec, bumped3(cb(), b))),
    "PqAdcScoreBatch" -> (b => PqAdcScoreBatch(codes, lut, qn, bumped(tab(), b))),
    "CentroidResidual" -> (b => CentroidResidual(vec, cell, bumped(cents(), b))),
    "PqResidualQueryLut" -> (b => PqResidualQueryLut(vec, cb(), bumped(cents(), b))),
    "PqAdcResidualScore" -> (b => PqAdcResidualScore(codes, cell, lut,
      tab(), bumped3(cb(), b), Array(1.0, 2.0))))

  private def bumped(a: Array[Array[Double]], b: Boolean) = {
    if (b) a(1)(1) += 1e-9
    a
  }
  private def bumped3(a: Array[Array[Array[Double]]], b: Boolean) = {
    if (b) a(1)(0)(1) += 1e-9
    a
  }

  for ((name, make) <- cases) {
    test(s"$name: equal-content copies are equal and semanticEquals; a changed constant is not") {
      val (a, b, c) = (make(false), make(false), make(true))
      assert(a == b, s"$name: equal-content copies must be equal")
      assert(a.hashCode == b.hashCode, s"$name: equal instances must hash equally")
      assert(a.semanticEquals(b), s"$name: equal-content copies must be semanticEquals")
      assert(a != c, s"$name: a changed constant must make the instances unequal")
      assert(!a.semanticEquals(c), s"$name: a changed constant must not be semanticEquals")
    }
  }
}
