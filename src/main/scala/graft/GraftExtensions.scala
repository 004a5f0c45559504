package graft

import graft.plans.{ArrayDot, BinaryGpsDecode, BpePieceCount, BpeTokenCount, ByteStats, ConvexContains, ImageHeaderDecode, MinHashSig, NormalizeText, OsmNodeParse, OsmRelationParse, OsmWayParse, PrefixSkipHot, RayCastContains, RingArea, SimHash64, SmallSortFinish, SortedIntersectCount, PunctCount, SortedShingleHashes, TopKPairs, WordShingles, WsTokenCount}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extensions registering graft's custom Catalyst expressions
  * and its one optimizer rule, [[graft.plans.SmallSortFinish]], wired
  * via `spark.sql.extensions=graft.GraftExtensions` (set by
  * GraftSession.builder). Extension-injected functions resolve in SQL
  * text and through `functions.call_function` alike.
  *
  * For sessions NOT built with the extension, the same function list is
  * registered post-hoc by [[GraftSession.ensureFunctions]]; the rule is
  * not, so this is the only place optimizer rules are registered.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // small global sorts finish in one task: statically from relation
    // sizes, and at runtime from materialized query stages
    ext.injectOptimizerRule(_ => SmallSortFinish)
    ext.injectRuntimeOptimizerRule(_ => SmallSortFinish)
  }
}

object GraftExtensions {

  /** Arity check with a resolvable error instead of a raw
    * IndexOutOfBoundsException from exprs(i). */
  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      require(exprs.length == n,
        s"$name expects $n argument(s), got ${exprs.length}")
      build(exprs)
    }

  // int/boolean parameters arrive as foldable literals from lit()/SQL;
  // evaluate them at build time (they parameterize generated code). A
  // foldable NULL must fail loudly: intValue would NPE and a silent
  // asInstanceOf would coerce null to false.
  private def litInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    val v = e.eval()
    require(v != null, s"$what must be a non-null literal")
    v.asInstanceOf[Number].intValue()
  }
  private def litBool(e: Expression, what: String): Boolean = {
    require(e.foldable, s"$what must be a literal")
    val v = e.eval()
    require(v != null, s"$what must be a non-null literal")
    v.asInstanceOf[Boolean]
  }
  private def litLongArray(e: Expression, what: String): Seq[Long] = {
    require(e.foldable, s"$what must be an array literal")
    val v = e.eval()
    require(v != null, s"$what must be a non-null array literal")
    v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq
  }

  /** (identifier, info, builder) triples — shared by the extension
    * injection path and [[GraftSession.ensureFunctions]]' post-hoc
    * registration. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("binary_gps_decode"),
      new ExpressionInfo(classOf[BinaryGpsDecode].getName, "binary_gps_decode"),
      arity("binary_gps_decode", 1)(exprs => BinaryGpsDecode(exprs.head))),
    (FunctionIdentifier("image_header"),
      new ExpressionInfo(classOf[ImageHeaderDecode].getName, "image_header"),
      arity("image_header", 1)(exprs => ImageHeaderDecode(exprs.head))),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      arity("simhash64", 1)(exprs => SimHash64(exprs.head))),
    (FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[ArrayDot].getName, "array_dot"),
      arity("array_dot", 2)(exprs => ArrayDot(exprs.head, exprs(1)))),
    (FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      arity("word_shingles", 3)(exprs => WordShingles(exprs.head,
        litInt(exprs(1), "word_shingles n"),
        litBool(exprs(2), "word_shingles distinct")))),
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      arity("minhash_sig", 2)(exprs => MinHashSig(exprs.head,
        litInt(exprs(1), "minhash_sig k")))),
    (FunctionIdentifier("sorted_shingle_hashes"),
      new ExpressionInfo(classOf[SortedShingleHashes].getName, "sorted_shingle_hashes"),
      arity("sorted_shingle_hashes", 2)(exprs => SortedShingleHashes(exprs.head,
        litInt(exprs(1), "sorted_shingle_hashes n")))),
    (FunctionIdentifier("position_record_parse"),
      new ExpressionInfo(classOf[graft.plans.PositionRecordParse].getName,
        "position_record_parse"),
      arity("position_record_parse", 1)(exprs =>
        graft.plans.PositionRecordParse(exprs.head))),
    (FunctionIdentifier("routes_record_parse"),
      new ExpressionInfo(classOf[graft.plans.RoutesRecordParse].getName,
        "routes_record_parse"),
      arity("routes_record_parse", 1)(exprs =>
        graft.plans.RoutesRecordParse(exprs.head))),
    (FunctionIdentifier("socketio_frame"),
      new ExpressionInfo(classOf[graft.plans.SocketIoFrame].getName,
        "socketio_frame"),
      arity("socketio_frame", 1)(exprs =>
        graft.plans.SocketIoFrame(exprs.head))),
    (FunctionIdentifier("asof_index"),
      new ExpressionInfo(classOf[graft.plans.AsOfIndex].getName, "asof_index"),
      arity("asof_index", 2)(exprs =>
        graft.plans.AsOfIndex(exprs.head, exprs(1)))),
    (FunctionIdentifier("hyperplane_sig"),
      new ExpressionInfo(classOf[graft.plans.HyperplaneSig].getName, "hyperplane_sig"),
      arity("hyperplane_sig", 4)(exprs =>
        graft.plans.HyperplaneSig(exprs.head,
          litInt(exprs(1), "hyperplane_sig first"),
          litInt(exprs(2), "hyperplane_sig nBits"),
          litInt(exprs(3), "hyperplane_sig dim")))),
    (FunctionIdentifier("first_collision_band"),
      new ExpressionInfo(classOf[graft.plans.FirstCollisionBand].getName,
        "first_collision_band"),
      arity("first_collision_band", 3)(exprs =>
        graft.plans.FirstCollisionBand(exprs(0), exprs(1), exprs(2)))),
    (FunctionIdentifier("sorted_intersect_count"),
      new ExpressionInfo(classOf[SortedIntersectCount].getName, "sorted_intersect_count"),
      arity("sorted_intersect_count", 2)(exprs =>
        SortedIntersectCount(exprs.head, exprs(1)))),
    (FunctionIdentifier("prefix_skip_hot"),
      new ExpressionInfo(classOf[PrefixSkipHot].getName, "prefix_skip_hot"),
      arity("prefix_skip_hot", 3)(exprs =>
        PrefixSkipHot(exprs(0), exprs(1),
          litLongArray(exprs(2), "prefix_skip_hot hot list")))),
    (FunctionIdentifier("byte_stats"),
      new ExpressionInfo(classOf[ByteStats].getName, "byte_stats"),
      arity("byte_stats", 1)(exprs => ByteStats(exprs.head))),
    (FunctionIdentifier("convex_contains"),
      new ExpressionInfo(classOf[ConvexContains].getName, "convex_contains"),
      arity("convex_contains", 3)(exprs =>
        ConvexContains(exprs(0), exprs(1), exprs(2)))),
    (FunctionIdentifier("ray_cast_contains"),
      new ExpressionInfo(classOf[RayCastContains].getName, "ray_cast_contains"),
      arity("ray_cast_contains", 3)(exprs =>
        RayCastContains(exprs(0), exprs(1), exprs(2)))),
    (FunctionIdentifier("ring_area"),
      new ExpressionInfo(classOf[RingArea].getName, "ring_area"),
      arity("ring_area", 1)(exprs => RingArea(exprs.head))),
    (FunctionIdentifier("bpe_token_count"),
      new ExpressionInfo(classOf[BpeTokenCount].getName, "bpe_token_count"),
      // canonical vocab: SQL callers get the same tokenization the
      // oracle replicates; custom vocabs construct the expression directly
      arity("bpe_token_count", 1)(exprs =>
        BpeTokenCount(exprs.head, graft.functions.TextFunctions.BpeVocab))),
    (FunctionIdentifier("normalize_text"),
      new ExpressionInfo(classOf[NormalizeText].getName, "normalize_text"),
      arity("normalize_text", 1)(exprs => NormalizeText(exprs.head))),
    (FunctionIdentifier("osm_node_parse"),
      new ExpressionInfo(classOf[OsmNodeParse].getName, "osm_node_parse"),
      arity("osm_node_parse", 1)(exprs => OsmNodeParse(exprs.head))),
    (FunctionIdentifier("osm_way_parse"),
      new ExpressionInfo(classOf[OsmWayParse].getName, "osm_way_parse"),
      arity("osm_way_parse", 1)(exprs => OsmWayParse(exprs.head))),
    (FunctionIdentifier("osm_relation_parse"),
      new ExpressionInfo(classOf[OsmRelationParse].getName, "osm_relation_parse"),
      arity("osm_relation_parse", 1)(exprs => OsmRelationParse(exprs.head))),
    (FunctionIdentifier("ws_token_count"),
      new ExpressionInfo(classOf[WsTokenCount].getName, "ws_token_count"),
      arity("ws_token_count", 1)(exprs => WsTokenCount(exprs.head))),
    (FunctionIdentifier("bpe_piece_count"),
      new ExpressionInfo(classOf[BpePieceCount].getName, "bpe_piece_count"),
      arity("bpe_piece_count", 1)(exprs => BpePieceCount(exprs.head))),
    (FunctionIdentifier("punct_count"),
      new ExpressionInfo(classOf[PunctCount].getName, "punct_count"),
      arity("punct_count", 1)(exprs => PunctCount(exprs.head))),
    (FunctionIdentifier("top_k_pairs"),
      new ExpressionInfo(classOf[TopKPairs].getName, "top_k_pairs"),
      // raw AggregateFunction: the analyzer wraps it into an
      // AggregateExpression (and owns DISTINCT/FILTER handling)
      arity("top_k_pairs", 3)(exprs =>
        TopKPairs(exprs(0), exprs(1), litInt(exprs(2), "top_k_pairs k")))))
}
