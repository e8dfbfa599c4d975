package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, In, InSet, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.execution.{FilterExec, LeafExecNode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.InLongList
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** [[InLongList]] — the by-reference `IN` the InListByReference rule puts
  * into non-scan operators — answers exactly like Spark's `In` and `InSet`,
  * generated and interpreted, and leaves the scan's pushdown alone. */
class InLongListSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session

  // value lists: plain, a null in the list, duplicates, no value that
  // the inputs hold (an empty match), a null-only list, a wide list
  private val lists: Seq[Seq[Any]] = Seq(
    Seq(1, 3, 5), Seq(1, null, 3), Seq(4, 4, 2, 2, 4), Seq(100, 200), Seq(null),
    (-40 to 40 by 3).toSeq)

  private def bound(dt: DataType) = BoundReference(0, dt, nullable = true)

  private def as(dt: DataType)(x: Any): Any = (dt, x) match {
    case (_, null) => null
    case (LongType, i: Int) => i.toLong
    case (_, i) => i
  }

  test("agrees with Spark's In and InSet over int and long columns, generated and interpreted") {
    for (dt <- Seq(IntegerType, LongType); list <- lists) {
      val v = bound(dt)
      val values = list.map(as(dt))
      val inputs = (null +: (-3 to 12)).map(x => InternalRow(as(dt)(x)))
      val spark: Seq[Expression] =
        Seq(In(v, values.map(Literal.create(_, dt))), InSet(v, values.toSet))
      for (ref <- spark) {
        val ours = InLongList.unapply(ref).getOrElse(fail(s"not rewritten: $ref"))
        val generated = GenerateUnsafeProjection.generate(Seq(ours))
        for (row <- inputs) {
          val want = ref.eval(row)
          assert(ours.eval(row) == want, s"interpreted $ours on $row")
          val out = generated(row)
          assert((if (out.isNullAt(0)) null else out.getBoolean(0)) == want,
            s"generated $ours on $row")
        }
      }
    }
  }

  test("only integral columns against non-empty literal lists are rewritten") {
    val i = bound(IntegerType)
    assert(InLongList.unapply(In(i, Seq(Literal(1), i))).isEmpty) // a non-literal member
    assert(InLongList.unapply(In(i, Nil)).isEmpty)
    assert(InLongList.unapply(InSet(i, Set.empty)).isEmpty)
    assert(InLongList.unapply(In(bound(DoubleType), Seq(Literal(1.0)))).isEmpty)
  }

  test("an IN list keeps its parquet pushdown; the filter above the scan holds it by reference") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // 3 values stay an `In`; 12 become an `InSet` (above Spark's conversion threshold)
    for (want <- Seq(Seq(0, 1, 2), 0 until 12)) {
      val df = emb.where(col("label").isin(want: _*)).select("vec_id")
      val exec = df.queryExecution.executedPlan
      val pushed = "PushedFilters: \\[[^\\]]*In\\(label, \\[([0-9, ]+)\\]\\)".r
        .findFirstMatchIn(exec.toString).getOrElse(fail(exec.toString))
      assert(pushed.group(1).split(",").map(_.trim.toInt).sorted.toSeq == want, exec.toString)
      val filters = exec.collect { case f: FilterExec => f.condition }
      assert(filters.exists(_.exists(_.isInstanceOf[InLongList])), exec.toString)
      val above = exec.collect { case p if !p.isInstanceOf[LeafExecNode] => p.expressions }.flatten
      assert(!above.exists(_.exists(e => e.isInstanceOf[In] || e.isInstanceOf[InSet])), exec.toString)
      assert(df.collect().map(_.getLong(0)).toSet ==
        labels.collect { case (id, l) if want.contains(l) => id }.toSet)
    }
  }
}
