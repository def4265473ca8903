package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's SQL function catalog: one row per `graft_*` function,
  * binding its name to its expression class and builder. Both ways a
  * session gets the functions read these rows — [[install]], which
  * every [[graft.QueryDef]] runs on the session it is given, and
  * [[graft.GraftExtensions]] (`spark.sql.extensions`) — so the two
  * cannot bind a name differently or leave one out. */
object Functions {

  /** One SQL function: the name queries call, the [[ExpressionInfo]]
    * `DESCRIBE FUNCTION` reports, and the builder the analyzer hands
    * the argument expressions. */
  final case class Fn(name: String, info: ExpressionInfo,
      build: Seq[Expression] => Expression) {
    def id: FunctionIdentifier = FunctionIdentifier(name)
  }

  /** A row whose builder only checks the argument count; `params` name
    * the arguments in the error message. */
  private def fixed[T <: Expression](name: String, params: String*)(
      make: Seq[Expression] => T)(implicit t: ClassTag[T]): Fn =
    Fn(name, new ExpressionInfo(t.runtimeClass.getName, name), { args =>
      require(args.length == params.length,
        s"$name takes ${params.mkString("(", ", ", ")")}")
      make(args)
    })

  /** A row whose builder also checks literal arguments, and so counts
    * its arguments itself. */
  private def checked[T <: Expression](name: String)(
      build: Seq[Expression] => Expression)(implicit t: ClassTag[T]): Fn =
    Fn(name, new ExpressionInfo(t.runtimeClass.getName, name), build)

  val all: Seq[Fn] = Seq(
    fixed[CosineSimilarity]("graft_cosine", "a", "b")(
      a => CosineSimilarity(a(0), a(1))),
    fixed[TopK]("graft_topk", "score", "id", "k")(a => TopK(a(0), a(1), a(2))),
    fixed[HllSketch]("graft_hll", "value")(a => HllSketch(a(0))),
    checked[HllRegisters]("graft_hll_regs")(HllSketch.regsBuilder),
    fixed[HllUnion]("graft_hll_union", "registers")(a => HllUnion(a(0))),
    fixed[HllEstimate]("graft_hll_est", "registers")(a => HllEstimate(a(0))),
    fixed[FreqSketch]("graft_freq", "item", "m")(a => FreqSketch(a(0), a(1))),
    fixed[Shingles]("graft_shingles", "text", "n")(a => Shingles(a(0), a(1))),
    fixed[ThetaSketch]("graft_theta", "value")(a => ThetaSketch(a(0))),
    fixed[ThetaEstimate]("graft_theta_est", "sketch")(
      a => ThetaEstimate(a(0))),
    fixed[ThetaIntersectEstimate]("graft_theta_intersect", "a", "b")(
      a => ThetaIntersectEstimate(a(0), a(1))),
    fixed[BloomSketch]("graft_bloom", "value", "numBits", "numHashes")(
      a => BloomSketch(a(0), a(1), a(2))),
    fixed[BloomMightContain]("graft_bloom_contains", "sketch", "value")(
      a => BloomMightContain(a(0), a(1))),
    checked[UnicodeNormalize]("graft_normalize")(UnicodeNormalize.builder),
    checked[MultiMatch]("graft_multi_match")(MultiMatch.builder),
    fixed[KllSketch]("graft_kll", "value", "k")(a => KllSketch(a(0), a(1))),
    fixed[KllSketchBin]("graft_kll_bin", "value", "k")(
      a => KllSketchBin(a(0), a(1))),
    fixed[KllMerge]("graft_kll_merge", "sketch")(a => KllMerge(a(0))),
    fixed[LcsLength]("graft_lcs_len", "a", "b")(a => LcsLength(a(0), a(1))),
    checked[SwScore]("graft_sw_score")(Align.swBuilder),
    fixed[ChrfScore]("graft_chrf", "candidate", "reference")(
      a => ChrfScore(a(0), a(1))),
    fixed[BleuCounts]("graft_bleu_counts", "candidate", "reference")(
      a => BleuCounts(a(0), a(1))),
    fixed[JaroWinkler]("graft_jaro_winkler", "a", "b")(
      a => JaroWinkler(a(0), a(1))))

  /** Binds every row in `spark`'s session function registry, replacing
    * whatever the names were bound to; installing again changes
    * nothing. */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach(f => registry.registerFunction(f.id, f.info, f.build))
  }
}
