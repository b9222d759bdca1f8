package graft.functions

import scala.collection.immutable.SortedMap

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.Aggregator

/** ClickHouse's map-combining aggregates — `sumMap` / `minMap` /
  * `maxMap` — behind the ChDialect tier-4 rewrites (`ch_summap(m)` &c.,
  * registered by GraftSql.ensureSession): all input maps merge
  * key-wise (sum / min / max of each key's values across rows) and the
  * result keys come back SORTED, ClickHouse's own output contract.
  *
  * The dialect normalizes the input to MAP<STRING, DOUBLE> (CH keeps the
  * native key/value types; the one-type surface is the documented trade,
  * same stance as the arithmetic-array DOUBLE accumulation) and returns
  * a MAP where CH's two-array form returns a tuple of arrays — probe
  * with map_keys/map_values for the array spellings.
  *
  * Scale: the buffer is one map of the group's DISTINCT keys — fixed
  * size in the row count, partial-aggregable (map-side combine), merged
  * associatively across partitions; nothing per-row ever buffers. The
  * same typed-Aggregator-on-explicit-encoders exception the sketch
  * aggregates use (TopKSketch/QuantileSketch) — no scalar UDFs.
  */
object MapCombine {

  private val mapEnc: Encoder[Map[String, Double]] =
    ExpressionEncoder[Map[String, Double]]()

  private def mergeMaps(a: Map[String, Double], b: Map[String, Double],
                        op: (Double, Double) => Double): Map[String, Double] =
    if (a.isEmpty) b
    else if (b.isEmpty) a
    else b.foldLeft(a) { case (acc, (k, v)) =>
      acc.updated(k, acc.get(k).map(op(_, v)).getOrElse(v))
    }

  private def combineAggregator(op: (Double, Double) => Double)
      : Aggregator[Map[String, Double], Map[String, Double], Map[String, Double]] =
    new Aggregator[Map[String, Double], Map[String, Double], Map[String, Double]] {
      override def zero: Map[String, Double] = Map.empty
      override def reduce(b: Map[String, Double],
                          m: Map[String, Double]): Map[String, Double] =
        if (m == null) b else mergeMaps(b, m, op)
      override def merge(a: Map[String, Double],
                         b: Map[String, Double]): Map[String, Double] =
        mergeMaps(a, b, op)
      // sorted keys = CH's output contract (and a deterministic hash for
      // the oracle compare)
      override def finish(s: Map[String, Double]): Map[String, Double] =
        SortedMap[String, Double]() ++ s
      override def bufferEncoder: Encoder[Map[String, Double]] = mapEnc
      override def outputEncoder: Encoder[Map[String, Double]] = mapEnc
    }

  private val ops: Map[String, (Double, Double) => Double] = Map(
    "sum" -> (_ + _), "min" -> math.min, "max" -> math.max)

  /** FunctionRegistry entry (ch_summap / ch_minmap / ch_maxmap): a
    * registry builder must return a real Expression — ScalaAggregator
    * direct, the ch_topk precedent.
    */
  def combineExpression(child: Expression, kind: String): Expression = {
    val op = ops.getOrElse(kind,
      throw new IllegalArgumentException(s"MapCombine: unknown kind $kind"))
    new ScalaAggregator(
      Seq(child), combineAggregator(op),
      mapEnc.asInstanceOf[ExpressionEncoder[Map[String, Double]]],
      mapEnc.asInstanceOf[ExpressionEncoder[Map[String, Double]]],
      nullable = false, isDeterministic = true, 0, 0, Some(s"ch_${kind}map"))
      .toAggregateExpression()
  }
}
