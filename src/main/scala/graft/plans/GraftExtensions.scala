package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{AHash, BloomMightContain, CountIn, DotProduct, HeaderCI, LevBound, MinHashSig, NormText, PackedCommonCount, PackedIntersect, PackSortedLongs, PairMerge, SafeDateKey, ShingleHash, ShingleSeq, SigMatches, WinnowMin}

/** Session extension wiring for graft's native expressions and the
  * as-of join planner strategy. Sessions get them when they are built:
  * `.withExtensions(new GraftExtensions)` (what `GraftSession.builder`
  * and the test session do) or
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

object GraftExtensions {
  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  val functions: Seq[FunctionDescription] = Seq(
    (new FunctionIdentifier("graft_date_key"),
      new ExpressionInfo(classOf[SafeDateKey].getName, "graft_date_key"),
      (args: Seq[Expression]) => SafeDateKey(args(0), args(1))),
    (new FunctionIdentifier("graft_header_ci"),
      new ExpressionInfo(classOf[HeaderCI].getName, "graft_header_ci"),
      (args: Seq[Expression]) => HeaderCI(args(0), args(1))),
    (new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))),
    (new FunctionIdentifier("graft_shingle_hash"),
      new ExpressionInfo(classOf[ShingleHash].getName, "graft_shingle_hash"),
      (args: Seq[Expression]) => ShingleHash(args(0), args(1))),
    (new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash"),
      (args: Seq[Expression]) => MinHashSig(args(0), args(1))),
    (new FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "graft_bloom_contains"),
      (args: Seq[Expression]) => BloomMightContain(args(0), args(1))),
    (new FunctionIdentifier("graft_ahash"),
      new ExpressionInfo(classOf[AHash].getName, "graft_ahash"),
      (args: Seq[Expression]) => AHash(args(0))),
    (new FunctionIdentifier("graft_sig_matches"),
      new ExpressionInfo(classOf[SigMatches].getName, "graft_sig_matches"),
      (args: Seq[Expression]) => SigMatches(args(0), args(1))),
    (new FunctionIdentifier("graft_shingle_seq"),
      new ExpressionInfo(classOf[ShingleSeq].getName, "graft_shingle_seq"),
      (args: Seq[Expression]) => ShingleSeq(args(0), args(1))),
    (new FunctionIdentifier("graft_winnow"),
      new ExpressionInfo(classOf[WinnowMin].getName, "graft_winnow"),
      (args: Seq[Expression]) => WinnowMin(args(0), args(1))),
    (new FunctionIdentifier("graft_pair_merge"),
      new ExpressionInfo(classOf[PairMerge].getName, "graft_pair_merge"),
      (args: Seq[Expression]) => PairMerge(args(0), args(1), args(2))),
    (new FunctionIdentifier("graft_count_in"),
      new ExpressionInfo(classOf[CountIn].getName, "graft_count_in"),
      (args: Seq[Expression]) => CountIn(args(0), args(1))),
    (new FunctionIdentifier("graft_lev_bound"),
      new ExpressionInfo(classOf[LevBound].getName, "graft_lev_bound"),
      (args: Seq[Expression]) => LevBound(args(0), args(1), args(2))),
    (new FunctionIdentifier("graft_norm"),
      new ExpressionInfo(classOf[NormText].getName, "graft_norm"),
      (args: Seq[Expression]) => NormText(args(0))),
    (new FunctionIdentifier("graft_pack_sorted"),
      new ExpressionInfo(classOf[PackSortedLongs].getName, "graft_pack_sorted"),
      (args: Seq[Expression]) => PackSortedLongs(args(0))),
    (new FunctionIdentifier("graft_packed_intersect"),
      new ExpressionInfo(classOf[PackedIntersect].getName,
        "graft_packed_intersect"),
      (args: Seq[Expression]) => PackedIntersect(args(0), args(1))),
    (new FunctionIdentifier("graft_packed_common"),
      new ExpressionInfo(classOf[PackedCommonCount].getName,
        "graft_packed_common"),
      (args: Seq[Expression]) => PackedCommonCount(args(0), args(1))))
}
