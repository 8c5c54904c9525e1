package graft

import graft.anomaly.SpikeAndDip
import graft.functions.SpikeScore
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Session extensions: registers the engine's custom SQL surface.
  *
  * Usage: `spark.sql.extensions=graft.GraftExtensions` at session build
  * (`GraftSession.builder` does this for every session the library
  * builds), or `GraftExtensions.register(spark)` on a session built
  * elsewhere (`GraftSession.tune` does this for a session passed to
  * `SparkEntry`).
  *
  * SQL forms:
  *   spike_score(history, value)                        — reference params (95/85)
  *   spike_score(history, value, confidence, historySize, mode)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(GraftExtensions.spikeScoreFn)
    e.injectFunction(GraftExtensions.vecDotFn)
    e.injectFunction(GraftExtensions.maskIntersectFn)
    e.injectFunction(GraftExtensions.minhashBandsFn)
    e.injectFunction(GraftExtensions.rollingFpFn)
    e.injectFunction(GraftExtensions.levBoundedFn)
    GraftExtensions.aggregatorFns.foreach(e.injectFunction)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsOfJoin)
  }
}

object GraftExtensions {
  private def str(e: Expression): String = e match {
    case Literal(v, _) if v != null => v.toString
    case other => throw new IllegalArgumentException(
      s"spike_score: literal argument expected, got $other")
  }
  private def num(e: Expression): Double = str(e).toDouble

  val spikeScoreFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("spike_score"),
    new ExpressionInfo(classOf[SpikeScore].getName, "spike_score"),
    (args: Seq[Expression]) => {
      // SQL numeric literals arrive as decimals — coerce like a
      // built-in would (ExpectsInputTypes is private[sql] in Spark 4).
      def hd(e: Expression) = Cast(e, ArrayType(DoubleType))
      def vd(e: Expression) = Cast(e, DoubleType)
      args match {
        case Seq(h, v) => SpikeScore(hd(h), vd(v))
        case Seq(h, v, conf, hist, mode) => SpikeScore(hd(h), vd(v),
          SpikeAndDip.Params(
            confidence = num(conf),
            historySize = num(hist).toInt,
            mode = str(mode)))
        case other => throw new IllegalArgumentException(
          s"spike_score expects 2 or 5 arguments, got ${other.length}")
      }
    },
  )

  val vecDotFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("vec_dot"),
    new ExpressionInfo(classOf[graft.functions.VecDot].getName, "vec_dot"),
    (args: Seq[Expression]) => args match {
      case Seq(a, b) => graft.functions.VecDot(
        Cast(a, ArrayType(DoubleType)), Cast(b, ArrayType(DoubleType)))
      case other => throw new IllegalArgumentException(
        s"vec_dot expects 2 arguments, got ${other.length}")
    },
  )

  val maskIntersectFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("mask_intersect"),
    new ExpressionInfo(
      classOf[graft.functions.MaskIntersect].getName, "mask_intersect"),
    (args: Seq[Expression]) => args match {
      case Seq(a, b) =>
        // widen INTEGRAL arrays to array<bigint>, but DON'T cast
        // arbitrary types: a blanket Cast would turn e.g.
        // mask_intersect(array('x'), m) into a runtime ANSI cast error
        // instead of MaskIntersect's analysis-time TypeCheckFailure
        // (the lev_bounded lesson, round-9 advice). Non-integral
        // arrays reach checkInputDataTypes as-is.
        import org.apache.spark.sql.types._
        def widen(e: Expression): Expression = e.dataType match {
          case ArrayType(ByteType | ShortType | IntegerType | LongType, _) |
               NullType =>
            Cast(e, ArrayType(LongType))
          // empty/all-null array literals type as array<void> — they
          // coerced under the old blanket Cast and must keep working
          // (round-10 advice): an empty mask is a legitimate zero mask
          case ArrayType(NullType, _) =>
            Cast(e, ArrayType(LongType))
          case _ => e
        }
        graft.functions.MaskIntersect(widen(a), widen(b))
      case other => throw new IllegalArgumentException(
        s"mask_intersect expects 2 arguments, got ${other.length}")
    },
  )

  val minhashBandsFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_bands"),
    new ExpressionInfo(
      classOf[graft.functions.MinhashBands].getName, "minhash_bands"),
    (args: Seq[Expression]) => args match {
      case Seq(ts) =>
        // no coercion: a non-array<string> argument reaches
        // checkInputDataTypes as-is and fails AT ANALYSIS (the
        // lev_bounded / mask_intersect discipline — never a runtime
        // ANSI cast error)
        graft.functions.MinhashBands(ts)
      case other => throw new IllegalArgumentException(
        s"minhash_bands expects 1 argument, got ${other.length}")
    },
  )

  val rollingFpFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("rolling_fp"),
    new ExpressionInfo(classOf[graft.functions.RollingFp].getName, "rolling_fp"),
    (args: Seq[Expression]) => args match {
      case Seq(toks, k) => graft.functions.RollingFp(
        toks, Cast(k, org.apache.spark.sql.types.IntegerType))
      case other => throw new IllegalArgumentException(
        s"rolling_fp expects 2 arguments, got ${other.length}")
    },
  )

  val levBoundedFn: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("lev_bounded"),
    new ExpressionInfo(
      classOf[graft.functions.BoundedLevenshtein].getName, "lev_bounded"),
    (args: Seq[Expression]) => args match {
      case Seq(a, b, k) =>
        // widen integral k to int, but DON'T cast arbitrary types: an
        // unconditional Cast made e.g. lev_bounded(a, b, 'abc') pass
        // analysis and return NULL at runtime instead of failing the
        // type check like the built-in levenshtein would (round-7
        // advice). Non-integral k reaches checkInputDataTypes as-is.
        import org.apache.spark.sql.types._
        val ki = k.dataType match {
          case ByteType | ShortType | IntegerType | LongType | NullType =>
            Cast(k, IntegerType)
          case _ => k
        }
        graft.functions.BoundedLevenshtein(a, b, ki)
      case other => throw new IllegalArgumentException(
        s"lev_bounded expects 3 arguments, got ${other.length}")
    },
  )

  /** SQL-text forms of the sketch aggregators (§2.11 UDAF surface), as
    * FunctionRegistry builders so BOTH session-construction routes —
    * `spark.sql.extensions=graft.GraftExtensions` and programmatic
    * `register(spark)` — expose the identical surface (previously the
    * aggregators were registered only on the programmatic path via
    * `spark.udf.register`, so an extensions-only session resolved
    * spike_score but not mg_sketch). Each builder hand-constructs the
    * same [[ScalaAggregator]] expression `functions.udaf` would; the
    * analyzer's built-in ResolveEncodersInScalaAgg rule resolves the
    * encoders regardless of registration route. Each SQL name pins one
    * parameterization (the registry queries' regimes); the typed Scala
    * API (`udaf(new MisraGries(k), …)`) parameterizes freely. */
  val aggregatorFns: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.{Encoder, Encoders}
    import org.apache.spark.sql.catalyst.encoders.{encoderFor, ExpressionEncoder}
    import org.apache.spark.sql.execution.aggregate.ScalaAggregator
    import org.apache.spark.sql.expressions.Aggregator
    // fresh aggregator per call site: Aggregator instances are
    // stateless folds, but sharing one across plans buys nothing
    def fn[IN, BUF, OUT](name: String, sig: String, arity: Int,
        mk: () => Aggregator[IN, BUF, OUT],
        in: Encoder[IN]): (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
      FunctionIdentifier(name),
      new ExpressionInfo(mk().getClass.getName, name),
      (args: Seq[Expression]) => {
        // arity-check at analysis time: a wrong argument count would
        // otherwise surface later as an opaque encoder/runtime failure
        // deep inside ScalaAggregator (round-5 ADVICE). `arity` is the
        // input encoder's flattened column count (tuple encoders bind
        // one SQL argument per tuple field, hence topk5's 2).
        if (args.length != arity) throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map(
            "functionName" -> s"`$name` (expected: $sig)",
            "expectedNum" -> arity.toString,
            "actualNum" -> args.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
        val agg = mk()
        ScalaAggregator(args, agg, encoderFor(in), encoderFor(agg.bufferEncoder),
          nullable = true, isDeterministic = true, 0, 0, Some(name))
      },
    )
    Seq(
      fn("mg_sketch", "mg_sketch(stringCol)", 1,
        () => new graft.functions.MisraGries(64), Encoders.STRING),
      fn("quantile_sketch", "quantile_sketch(doubleCol)", 1,
        () => new graft.functions.QuantileSketchAgg(1 << 16,
          Seq(0.1, 0.5, 0.9, 0.99)), Encoders.scalaDouble),
      fn("topk5", "topk5(doubleCol, longCol)", 2,
        () => new graft.functions.TopK(5),
        Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)),
      fn("bloom_build", "bloom_build(arrayOfIntCol)", 1,
        () => new graft.functions.BloomAgg(1 << 17),
        ExpressionEncoder[Seq[Int]]()),
      fn("hll_count", "hll_count(longCol)", 1,
        () => new graft.functions.HllAgg(), Encoders.scalaLong),
      // CountMin has no SQL form: its probe list is a data-specific
      // constructor parameter, which a pinned SQL name cannot carry —
      // the typed API (`udaf(new CountMin(probes), …)`) is the surface
      fn("kmv_sketch", "kmv_sketch(stringCol)", 1,
        () => new graft.functions.KmvAgg(), Encoders.STRING),
    )
  }

  /** Programmatic registration for sessions built without the
    * extensions config. Idempotent (re-registration replaces with the
    * same builders). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    (Seq(spikeScoreFn, vecDotFn, maskIntersectFn, minhashBandsFn,
        rollingFpFn, levBoundedFn) ++
        aggregatorFns).foreach {
      case (id, info, builder) =>
        spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
  }
}
