package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft._

/** SparkSessionExtensions installer. It registers
  *  - graft's native expressions in the SQL function registry, so
  *    `spark.sql("... dot_f32(a, b) ...")` works anywhere DataFrame code
  *    does;
  *  - the `TopKPerKey` planner strategy;
  *  - the [[org.apache.spark.sql.graft.InListByReference]] physical rule
  *    (a post-transition columnar rule): an integral `IN` list in a
  *    non-scan operator enters generated code by reference, so a serving
  *    request whose probe or bucket list is new compiles no class.
  *
  * Activate with
  *
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions()) // or
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  private def binary(name: String, usage: String, mk: (Expression, Expression) => Expression) =
    (FunctionIdentifier(name), info(name, usage), (args: Seq[Expression]) => {
      require(args.length == 2, s"$name expects 2 arguments, got ${args.length}")
      mk(args(0), args(1))
    })

  private def unary(name: String, usage: String, mk: Expression => Expression) =
    (FunctionIdentifier(name), info(name, usage), (args: Seq[Expression]) => {
      require(args.length == 1, s"$name expects 1 argument, got ${args.length}")
      mk(args.head)
    })

  /** (text, n) where n must fold to a literal integer shingle size. */
  private def textN(name: String, usage: String, mk: (Expression, Int) => Expression) =
    (FunctionIdentifier(name), info(name, usage), (args: Seq[Expression]) => {
      require(args.length == 2, s"$name expects 2 arguments, got ${args.length}")
      require(args(1).foldable, s"$name: shingle size must be a literal")
      args(1).eval() match {
        case n: Number => mk(args(0), n.intValue)
        case other => throw new IllegalArgumentException(
          s"$name: shingle size must be a literal integer, got $other")
      }
    })

  override def apply(ext: SparkSessionExtensions): Unit = {
    val fns = Seq(
      binary("dot_f32", "dot_f32(a, b) - inner product of two float vectors", DotProductF32),
      binary("argmax_dot_f32", "argmax_dot_f32(v, cents) - index of max-IP centroid", ArgMaxDotF32),
      binary("hyperplane_signature", "hyperplane_signature(v, planes) - packed sign bits", HyperplaneSignature),
      binary("sorted_intersect_size", "sorted_intersect_size(a, b) - |a intersect b| of sorted bigint arrays", SortedIntersectSize),
      unary("l2_norm_f32", "l2_norm_f32(v) - L2 norm of a float vector", L2NormF32),
      unary("simhash64", "simhash64(hashes) - row-local 64-bit SimHash of bigint element hashes", SimHash64),
      textN("token_set_ids", "token_set_ids(text, n) - sorted distinct XXH64 token/shingle hashes", TokenSetIds),
      textN("token_set_min_md5", "token_set_min_md5(text, n) - min MD5 of the token/shingle set", TokenSetMinMd5),
      textN("token_set_size", "token_set_size(text, n) - distinct token/shingle count", TokenSetSize),
      unary("char_entropy", "char_entropy(text) - codepoint Shannon entropy (nats)", CharEntropy),
      unary("cdc_boundaries", "cdc_boundaries(text) - content-defined chunk boundary positions", CdcBoundaries))
    fns.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graft.TopKPerKeyStrategy)
    ext.injectColumnar(_ => org.apache.spark.sql.graft.InListByReference.Columnar)
  }
}
