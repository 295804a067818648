package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftSqlShims.{column => c, expression => e}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's native Catalyst expressions, reachable two ways:
  *
  *  - as typed [[Column]] constructors ([[GraftFunctions.dotProduct]] and
  *    siblings), which build the expression directly. Operators use only
  *    these, so every query runs on a session nobody configured;
  *  - as SQL names, for callers who write SQL or `call_function`. One
  *    list of (name, expression class, builder) feeds two binders
  *    that install the same set — the functions, the [[RewriteDotProduct]]
  *    and [[graft.plans.OneTaskSort]] optimizer rules and the
  *    [[graft.plans.TopKPerGroupStrategy]] planner strategy:
  *    [[GraftFunctions.register]] on an already-built session
  *    (idempotent), and [[GraftExtensions]] at session build via
  *    `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object GraftFunctions {

  /** Fixed-seed parameters for the 60 minhash permutations — the LSH
    * banding (10 bands × 6 rows) in graft.operators.DedupOps depends on
    * exactly these.
    */
  val (minhashAs, minhashBs): (Array[Long], Array[Long]) = {
    val rng = new scala.util.Random(42)
    val pairs = Seq.fill(60)((1L + rng.nextInt(Int.MaxValue - 1).toLong,
      1L + rng.nextInt(Int.MaxValue - 1).toLong))
    (pairs.map(_._1).toArray, pairs.map(_._2).toArray)
  }

  /** [[DotProduct]] (fast path). */
  def dotProduct(a: Column, b: Column): Column = c(DotProduct(e(a), e(b)))

  /** [[MinHashTokens]] under the fixed [[minhashAs]]/[[minhashBs]]. */
  def minhashTokens(toks: Column): Column =
    c(MinHashTokens(e(toks), minhashAs, minhashBs))

  def simHash(toks: Column, portable: Boolean = false): Column =
    c(SimHash(e(toks), portable))

  def shingleSet(toks: Column): Column = c(ShingleSet(e(toks)))

  def rollingFingerprint(toks: Column, portable: Boolean = false): Column =
    c(RollingFingerprint(e(toks), portable))

  def pqAdc(lut: Column, codes: Column): Column = c(PqAdc(e(lut), e(codes)))

  /** [[PqEncode]] with the cb(m)(k)(i) codebook as its constructor
    * constant. */
  def pqEncode(embedding: Column, codebook: Seq[Seq[Seq[Double]]]): Column =
    c(PqEncode(e(embedding), codebook.map(_.map(_.toArray).toArray).toArray))

  /** The SQL form of [[pqEncode]]: the codebook child must be FOLDABLE (a
    * `typedlit` of the cb(m)(k)(i) nested array) — it is evaluated ONCE
    * at resolution into [[PqEncode]]'s constructor constant, so the
    * generated per-row loop indexes a flat JVM double[] instead of
    * re-walking a plan literal.
    */
  private[functions] def pqEncodeBuilder(
      children: Seq[Expression]): Expression = {
    require(children.size == 2, "PqEncode takes (embedding, codebook)")
    require(children(1).foldable,
      "PqEncode codebook must be a foldable literal")
    // validate the literal's TYPE before evaluating it — a mistyped
    // codebook (e.g. array<array<double>> or integer cells) would
    // otherwise surface as a raw ClassCastException out of getArray
    children(1).dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, _), _), _) => ()
      case t => throw new IllegalArgumentException(
        "PqEncode codebook must be array<array<array<double>>> " +
          s"(cb(m)(k)(i)), got ${t.catalogString}")
    }
    val outer = children(1).eval()
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val cb = Array.tabulate(outer.numElements()) { m =>
      val mid = outer.getArray(m)
      Array.tabulate(mid.numElements())(k => mid.getArray(k).toDoubleArray())
    }
    PqEncode(children(0), cb)
  }

  /** Every SQL name, bound once; both binders read this list. */
  private[graft] val sqlFunctions
      : Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] =
    Seq[(String, Class[_], FunctionBuilder)](
      ("graft_dot", classOf[DotProduct], ch => DotProduct(ch(0), ch(1))),
      ("graft_minhash", classOf[MinHash],
        ch => MinHash(ch.head, minhashAs, minhashBs)),
      ("graft_minhash_tokens", classOf[MinHashTokens],
        ch => MinHashTokens(ch.head, minhashAs, minhashBs)),
      ("graft_simhash", classOf[SimHash], ch => SimHash(ch.head)),
      ("graft_simhash_portable", classOf[SimHash],
        ch => SimHash(ch.head, portable = true)),
      ("graft_shingles", classOf[ShingleSet], ch => ShingleSet(ch.head)),
      ("graft_fingerprint", classOf[RollingFingerprint],
        ch => RollingFingerprint(ch.head)),
      ("graft_fingerprint_portable", classOf[RollingFingerprint],
        ch => RollingFingerprint(ch.head, portable = true)),
      ("graft_pq_adc", classOf[PqAdc], ch => PqAdc(ch(0), ch(1))),
      ("graft_pq_encode", classOf[PqEncode], pqEncodeBuilder)
    ).map { case (name, cls, builder) =>
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
        builder)
    }

  /** Binds the SQL names, [[RewriteDotProduct]], the one-task sort and
    * the top-k strategy on an already-built session. Idempotent
    * (overwrites any prior binding).
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (id, info, builder) =>
      reg.registerFunction(id, info, builder)
    }
    // optimizer rule on a live session (extensions only bind at build time)
    if (!spark.experimental.extraOptimizations.contains(RewriteDotProduct))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RewriteDotProduct
    graft.plans.OneTaskSort.install(spark)
    graft.plans.TopKPerGroup.install(spark)
  }
}

/** `spark.sql.extensions` entry point: the same set as
  * [[GraftFunctions.register]], bound at session build. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.sqlFunctions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => RewriteDotProduct)
    ext.injectOptimizerRule(_ => graft.plans.OneTaskSort)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
  }
}
