package graft.dql

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, element_at, lit, size, split}
import Ast._

/** Function/type resolution (reference: `src/dql_resolver.erl:12-129` +
  * the registry in `src/dqe.erl:62-122`), alias substitution
  * (`src/dql_alias.erl`), and resolution (sample-interval) propagation
  * (`src/dql_resolution.erl:142-158`).
  *
  * Produces a typed plan: every function call is classified as windowed
  * aggregation / transform / arithmetic / combinator / histogram by its
  * argument types, exactly like the reference's signature lookup —
  * `min(m, 5)` is a clamp, `min(m, 5 m)` a windowed min, `min(m1, m2)` a
  * combinator. Output resolution is a compile-time property: aggregations
  * coarsen it to their window, combinator children must agree
  * (`resolution_conflict`, `src/dql_resolution.erl:96-112`).
  */
object Resolver {
  final case class ResolveError(msg: String) extends RuntimeException(msg)

  // ------------------------------------------------------- typed plan

  sealed trait RExpr { def resMs: Long }
  /** direct scan; path may contain `*` globs */
  final case class RScan(bucket: String, path: Seq[String], resMs: Long)
    extends RExpr
  /** tag-index lookup, optionally grouped (GROUP BY tags USING fun) */
  final case class RLookup(collection: String, path: Option[Seq[String]],
                           where: Option[TagFilter],
                           groupBy: Seq[(String, String)],
                           groupFun: Option[String],
                           resMs: Long) extends RExpr
  final case class RAggr(name: String, const: Option[Double], windowMs: Long,
                         child: RExpr) extends RExpr {
    def resMs: Long = windowMs
  }
  final case class RTrans(name: String, const: Option[Double], child: RExpr)
    extends RExpr { def resMs: Long = child.resMs }
  final case class RComb(name: String, children: Seq[RExpr]) extends RExpr {
    def resMs: Long = children.head.resMs
  }
  /** fused `fn(histogram(m, htv, sf, t))` (SURVEY §2.7). `htv` is the HDR
    * highest-trackable-value: recorded values are int-rounded and SATURATE
    * at htv (reference `src/dqe_hist.erl:31-57`). `sf` (significant
    * figures) bounds the quantile error the reference's HDR buckets may
    * introduce; the exact reductions used here have zero error, which is
    * within any sf ≥ 1 bound, so sf is validated but needs no runtime
    * effect (the faithful bucketed sketch lives in expr/HdrHistogram for
    * callers that want HDR memory behavior).
    */
  final case class RHistFn(name: String, p: Option[Double], windowMs: Long,
                           htv: Long, sf: Int, child: RExpr) extends RExpr {
    def resMs: Long = windowMs
  }
  final case class REvents(bucket: String, filter: Option[EventFilter])
    extends RExpr { def resMs: Long = 1L }
  /** North-star pipeline TABLE function over the corpus tables
    * (SURVEY §7.2.11 — "registry functions so DQL can call them"; the
    * reference's extensibility story is exactly this registration path,
    * `src/dqe.erl:62-122`). Not a series: cannot feed aggregations,
    * transforms, combinators, or histograms.
    */
  final case class RPipeline(name: String, args: Seq[Double]) extends RExpr {
    def resMs: Long = 1L
  }

  // --------------------------------------------------------- registry

  val aggr2: Set[String] =
    Set("sum", "avg", "min", "max", "variance", "stddev", "median")
  val aggr3: Set[String] = Set("percentile", "count_above", "count_below",
    "first_above", "first_below", "last_above", "last_below",
    "count_above_conf", "count_below_conf", "first_above_conf",
    "first_below_conf", "last_above_conf", "last_below_conf")
  val trans1: Set[String] =
    Set("derivate", "abs", "sqrt_scale", "log10_scale", "confidence")
  val trans2: Set[String] = Set("min", "max", "add", "sub", "mul", "divide")
  val combs: Set[String] =
    Set("sum", "avg", "min", "max", "diff", "product", "quotient")
  val histFns: Set[String] = Set("min", "max", "mean", "median", "stddev")

  /** Pipeline table functions: name → (arity, signature rendered for
    * error messages). Registered into the language like every reference
    * operator module (`src/dqe.erl:62-122`); numeric-literal arguments
    * only — the corpus tables they read are bound by the store, like
    * buckets are for series leaves.
    *
    * Negative literals: the grammar has no unary minus (reference
    * parity — dql_parser.yrl has none either), so the negative half of
    * a min-cosine domain is spelled arithmetically, `(0 - 0.5)`; the
    * constant folder reduces it before validation.
    */
  val pipelineFns: Map[String, (Int, String)] = Map(
    "dedup_exact" -> ((0, "dedup_exact()")),
    "dedup_minhash" -> ((1, "dedup_minhash(jaccard-threshold in (0,1])")),
    "dedup_hot_bands" ->
      ((1, "dedup_hot_bands(int max-bucket >= 1) — the hot-band " +
        "disclosure table: band buckets the capped candidate build " +
        "would exclude, with sizes")),
    "quality" -> ((0, "quality()")),
    "langid" -> ((0, "langid()")),
    "scrub" -> ((1, "scrub(int n-gram window >= 2)")),
    "scrub_keepfirst" -> ((1, "scrub_keepfirst(int n-gram window >= 2)")),
    "dedup_simhash" -> ((1, "dedup_simhash(int max-hamming >= 0)")),
    "dedup_ngram" -> ((1, "dedup_ngram(jaccard-threshold in (0,1])")),
    "dedup_embed" -> ((1, "dedup_embed(min-cosine in [-1,1])")),
    "tokens" -> ((0, "tokens()")),
    "fingerprint" -> ((0, "fingerprint()")),
    "gopher" -> ((0, "gopher()")),
    // first arg of every sim_* fn is the QUERY VEC_ID BOUND — queries
    // are the embedding rows with vec_id < n, not "the first n vectors"
    // (r15 advisory: ids need not be contiguous from 0)
    "sim_topk" ->
      ((2, "sim_topk(query vec_id bound >= 1, int k >= 1) — IVF-exact")),
    "sim_topk_sized" ->
      ((3, "sim_topk_sized(query vec_id bound >= 1, int k >= 1, " +
        "int ncells >= 1) — IVF-exact at explicit index sizing")),
    "sim_topk_probe" ->
      ((3, "sim_topk_probe(query vec_id bound >= 1, int k >= 1, " +
        "int n-probe >= 1) — IVF recall knob")),
    "sim_topk_brute" ->
      ((2, "sim_topk_brute(query vec_id bound >= 1, int k >= 1) — " +
        "exhaustive fallback")),
    // the quantized resident-index rungs: ranking by asymmetric
    // quantized cosine against the memoized int8 / codes-only artifact
    // (the memory ladder the batch sim_topk_sq8_*/pq_* gates pin)
    "sim_topk_sq8" ->
      ((3, "sim_topk_sq8(query vec_id bound >= 1, int k >= 1, " +
        "int n-probe >= 1) — int8-quantized index, asymmetric ranking")),
    "sim_topk_pq" ->
      ((3, "sim_topk_pq(query vec_id bound >= 1, int k >= 1, " +
        "int n-probe >= 1) — product-quantized index, ADC ranking")),
    "sim_range" ->
      ((2, "sim_range(query vec_id bound >= 1, min-cosine in [-1,1]) — " +
        "IVF-exact")),
    "sim_range_brute" ->
      ((2, "sim_range_brute(query vec_id bound >= 1, " +
        "min-cosine in [-1,1]) — exhaustive fallback")),
    "sim_range_lsh" ->
      ((2, "sim_range_lsh(query vec_id bound >= 1, " +
        "min-cosine in [-1,1]) — band-index path")),
    "sim_rrf" ->
      ((2, "sim_rrf(query vec_id bound >= 1, int k >= 1) — IVF and " +
        "multi-probe-LSH lists RRF-fused, both index-backed")),
    // the TRAINED quality filter (vs the heuristic `quality()`): weights
    // frozen per (session, corpus, hyperparams), val split scored
    "quality_trained" ->
      ((5, "quality_trained(int dim >= 1, int rounds >= 1, lr > 0, " +
        "int min-words >= 1, val-frac in (0,1)) — held-out scores")),
    "threshold_scan" ->
      ((6, "threshold_scan(int dim >= 1, int rounds >= 1, lr > 0, " +
        "int min-words >= 1, val-frac in (0,1), int bins >= 1) — " +
        "held-out accuracy per bin edge")))

  /** all registered function names (for error messages / generators) */
  val allFunctions: Set[String] =
    aggr2 ++ aggr3 ++ trans1 ++ trans2 ++ combs ++
      Set("histogram", "percentile") ++ pipelineFns.keySet

  // ---------------------------------------------------------- resolve

  /** `bucketRes`: resolution lookup per bucket/collection (the reference
    * fetches this from storage at plan time, `src/dql_resolution.erl:206`).
    */
  def resolve(e: Expr, aliases: Map[String, Expr],
              bucketRes: String => Long): RExpr = e match {
    case Get(path, bucket) => RScan(bucket, path, bucketRes(bucket))
    case Lookup(path, coll, where, gb, gf) =>
      // any registered combinator is a valid group fun, like the reference's
      // metric_list signature lookup (src/dql_resolver.erl:48-63);
      // non-commutative funs (diff/product/quotient) fold group members in
      // lexicographic metric order — the deterministic analog of the
      // reference's index-answer order (see Combs.groupUsing)
      gf.foreach { f =>
        if (!combs.contains(f))
          throw ResolveError(s"GROUP BY USING '$f': not a combinator " +
            s"(expected one of ${combs.toSeq.sorted.mkString(", ")})")
      }
      RLookup(coll, path, where, gb, gf, bucketRes(coll))
    case EventsScan(bucket, f) => REvents(bucket, f)
    case Var(n) =>
      val sub = aliases.getOrElse(n,
        throw ResolveError(s"unknown alias '$n'"))
      resolve(sub, aliases - n, bucketRes)
    case Num(_, _) | TimeLit(_, _) =>
      throw ResolveError("constant cannot be a selector by itself")
    case FCall(name, args) => resolveCall(name, args, aliases, bucketRes)
  }

  private def num(e: Expr): Option[Double] = e match {
    case Num(v, _) => Some(v)
    case _         => None
  }

  private def resolveCall(name: String, args: Seq[Expr],
                          aliases: Map[String, Expr],
                          bucketRes: String => Long): RExpr = {
    def res(e: Expr) = resolve(e, aliases, bucketRes)
    def isSeries(e: Expr) = e match {
      case _: Num | _: TimeLit => false
      case _                   => true
    }
    (name, args) match {
      // pipeline table functions (typed: numeric literals only)
      case (n, as) if pipelineFns.contains(n) =>
        val (arity, sig) = pipelineFns(n)
        val vals = as.map(a => num(a).getOrElse(throw ResolveError(
          s"$n expects numeric literal arguments — $sig")))
        if (vals.length != arity)
          throw ResolveError(s"$n takes $arity argument(s) — $sig")
        // EVERY registered function validates its documented domain —
        // asymmetric guards let sibling spellings accept values the
        // validated ones reject (r17 review). Predicates compose from
        // the same vocabulary the signature texts use.
        def intGe(lo: Double)(v: Double) = v >= lo && v == v.floor
        def in01Open(v: Double) = v > 0.0 && v < 1.0
        def in01OpenClosed(v: Double) = v > 0.0 && v <= 1.0
        def cosine(v: Double) = v >= -1.0 && v <= 1.0
        val ok: Boolean = n match {
          case "dedup_minhash" | "dedup_ngram" => in01OpenClosed(vals.head)
          case "scrub" | "scrub_keepfirst" => intGe(2)(vals.head)
          case "dedup_hot_bands" => intGe(1)(vals.head)
          case "dedup_simhash" => intGe(0)(vals.head)
          case "dedup_embed" => cosine(vals.head)
          case "sim_topk" | "sim_topk_sized" | "sim_topk_probe" |
               "sim_topk_brute" | "sim_topk_sq8" | "sim_topk_pq" |
               "sim_rrf" => vals.forall(intGe(1))
          case "sim_range" | "sim_range_brute" | "sim_range_lsh" =>
            intGe(1)(vals.head) && cosine(vals(1))
          case "quality_trained" | "threshold_scan" =>
            intGe(1)(vals(0)) && intGe(1)(vals(1)) && vals(2) > 0.0 &&
              intGe(1)(vals(3)) && in01Open(vals(4)) &&
              (n == "quality_trained" || intGe(1)(vals(5)))
          case _ => true // arity-0 spellings have no domain to check
        }
        if (!ok) throw ResolveError(sig)
        RPipeline(n, vals)

      // infix lowering (src/dql_parser.yrl:132-158)
      case ("__add", Seq(a, b)) if isSeries(a) && isSeries(b) =>
        mkComb("sum", Seq(res(a), res(b)))
      case ("__add", Seq(a, b)) if isSeries(a) => mkTrans("add", num(b), res(a))
      case ("__add", Seq(a, b)) if isSeries(b) => mkTrans("add", num(a), res(b))
      case ("__sub", Seq(a, b)) if isSeries(a) && isSeries(b) =>
        mkComb("diff", Seq(res(a), res(b)))
      case ("__sub", Seq(a, b)) if isSeries(a) => mkTrans("sub", num(b), res(a))
      case ("__mul", Seq(a, b)) if isSeries(a) && isSeries(b) =>
        mkComb("product", Seq(res(a), res(b)))
      case ("__mul", Seq(a, b)) if isSeries(a) => mkTrans("mul", num(b), res(a))
      case ("__mul", Seq(a, b)) if isSeries(b) => mkTrans("mul", num(a), res(b))
      case ("__div", Seq(a, b)) if isSeries(a) && isSeries(b) =>
        mkComb("quotient", Seq(res(a), res(b)))
      case ("__div", Seq(a, b)) if isSeries(a) =>
        val c = num(b)
        if (c.contains(0.0)) throw ResolveError("division by zero constant")
        mkTrans("divide", c, res(a))

      // fused histogram: fn(histogram(m, htv, sf, t)) / percentile(hist, p)
      case (fn, Seq(FCall("histogram", hargs))) if histFns.contains(fn) =>
        val (child, w, htv, sf) = histogramArgs(hargs, aliases, bucketRes)
        RHistFn(fn, None, w, htv, sf, child)
      case ("percentile", Seq(FCall("histogram", hargs), p)) if num(p).isDefined =>
        if (num(p).exists(v => v <= 0.0 || v > 1.0))
          throw ResolveError(
            s"histogram percentile takes a fraction in (0, 1], got ${num(p).get}")
        val (child, w, htv, sf) = histogramArgs(hargs, aliases, bucketRes)
        RHistFn("percentile", num(p), w, htv, sf, child)
      case ("histogram", hargs) =>
        throw ResolveError("histogram(...) must be wrapped in a reducing " +
          "function (min/max/mean/median/stddev/percentile)")

      // (metric, time) → windowed aggregation
      case (n, Seq(m, t: TimeLit)) if aggr2.contains(n) && isSeries(m) =>
        mkAggr(n, None, t, res(m))
      // (metric, const, time) → threshold/percentile aggregation
      case (n, Seq(m, c, t: TimeLit)) if aggr3.contains(n) && isSeries(m) &&
        num(c).isDefined =>
        // integer percentile constants are halved (dqe_percentile_aggr:15)
        val k = (n, c) match {
          case ("percentile", Num(v, true)) => Some(v * 0.5)
          case _                            => num(c)
        }
        // the resulting fraction must index the kth element: out of
        // (0, 1] the compiled element_at lands past the array end —
        // silent nulls off ANSI, a crash on (r17 review). The natural
        // 0-100 spelling lands here too: percentile(m, 90, 1 m)
        // halves to 45.0.
        if (n == "percentile" && k.exists(v => v <= 0.0 || v > 1.0))
          throw ResolveError(
            s"percentile fraction must be in (0, 1] after the " +
              s"integer-halving rule (got ${k.get} — integers halve: " +
              "1 → 0.5, 2 → 1.0; fractions pass through)")
        mkAggr(n, k, t, res(m))
      // (metric) → transform
      case (n, Seq(m)) if trans1.contains(n) && isSeries(m) =>
        mkTrans(n, None, res(m))
      // (metric, const) → clamp / arithmetic
      case (n, Seq(m, c)) if trans2.contains(n) && isSeries(m) &&
        num(c).isDefined =>
        if (n == "divide" && num(c).contains(0.0))
          throw ResolveError("division by zero constant")
        mkTrans(n, num(c), res(m))
      // (metric, metric, ...) → combinator
      case (n, ms) if combs.contains(n) && ms.length >= 2 &&
        ms.forall(isSeries) =>
        mkComb(n, ms.map(res))
      case _ =>
        val sig = args.map {
          case _: Num     => "number"
          case _: TimeLit => "time"
          case _          => "metric"
        }.mkString(", ")
        throw ResolveError(s"no function $name($sig) is registered")
    }
  }

  private def histogramArgs(hargs: Seq[Expr], aliases: Map[String, Expr],
                            bucketRes: String => Long): (RExpr, Long, Long, Int) =
    hargs match {
      case Seq(m, Num(htv, true), Num(sf, true), t: TimeLit)
        if sf >= 1 && sf <= 5 && htv >= 1 =>
        val child = asSeries(resolve(m, aliases, bucketRes), "histogram")
        checkWindow(t, child)
        (child, t.ms, htv.toLong, sf.toInt)
      case _ => throw ResolveError(
        "histogram expects (metric, int highest-trackable, int 1-5 " +
          "significant-figures, time)")
    }

  private def checkWindow(t: TimeLit, child: RExpr): Unit = {
    if (t.ms <= 0 || t.ms % child.resMs != 0)
      throw ResolveError(s"window ${t.n} ${t.unit} is not a multiple of " +
        s"the input resolution ${child.resMs} ms")
  }

  /** pipeline table functions produce corpora, not series — reject them
    * anywhere a series operand is expected
    */
  private def asSeries(r: RExpr, ctx: String): RExpr = r match {
    case p: RPipeline => throw ResolveError(
      s"${p.name}(...) is a table function over the corpus — it cannot " +
        s"feed $ctx")
    case other => other
  }

  // ----------------------------------------------- selector predicates
  //
  // Row predicates over a series frame's `metric` key and tag columns,
  // shared by the batch and the streaming compiler. `tagCol` is the
  // store's tag map, (ns, key) → column name.

  /** get path: an exact get compares the whole key; a glob compares
    * segment by segment, `*` matching any one segment
    */
  def getCond(path: Seq[String]): Column =
    if (!path.contains("*")) col("metric") === path.mkString(".")
    else segmentCond(path, exact = true)

  /** lookup selection: the path is a metric-path PREFIX ('purchase' finds
    * every purchase.<user> series) in which `*` is a wildcard segment,
    * AND-ed with the tag WHERE filter
    */
  def lookupCond(path: Option[Seq[String]], where: Option[TagFilter],
                 tagCol: (String, String) => Option[String]): Column =
    path.map(segmentCond(_, exact = false)).getOrElse(lit(true)) &&
      where.map(tagCond(_, tagCol)).getOrElse(lit(true))

  private def segmentCond(path: Seq[String], exact: Boolean): Column = {
    val parts = split(col("metric"), "\\.")
    val sizeOk =
      if (exact) size(parts) === path.length else size(parts) >= path.length
    path.zipWithIndex.collect {
      case (p, i) if p != "*" => element_at(parts, i + 1) === p
    }.foldLeft(sizeOk)(_ && _)
  }

  /** tag WHERE over string-compared tag columns; a tag the store does not
    * map never matches `=` and always matches `!=`
    */
  def tagCond(f: TagFilter,
              tagCol: (String, String) => Option[String]): Column = f match {
    case TagEq(ns, key, v) =>
      tagCol(ns, key).map(c => col(c).cast("string") === v)
        .getOrElse(lit(false))
    case TagNeq(ns, key, v) =>
      tagCol(ns, key).map(c => col(c).cast("string") =!= v)
        .getOrElse(lit(true))
    case TagAnd(a, b) => tagCond(a, tagCol) && tagCond(b, tagCol)
    case TagOr(a, b)  => tagCond(a, tagCol) || tagCond(b, tagCol)
  }

  private def mkTrans(n: String, c: Option[Double], child: RExpr): RTrans =
    RTrans(n, c, asSeries(child, s"transform '$n'"))

  private def mkAggr(n: String, c: Option[Double], t: TimeLit,
                     child: RExpr): RAggr = {
    asSeries(child, s"aggregation '$n'")
    checkWindow(t, child)
    RAggr(n, c, t.ms, child)
  }

  private def mkComb(n: String, children: Seq[RExpr]): RComb = {
    children.foreach(asSeries(_, s"combinator '$n'"))
    val rs = children.map(_.resMs).distinct
    if (rs.length != 1)
      throw ResolveError(s"resolution_conflict: combinator '$n' children " +
        s"have resolutions ${rs.mkString(", ")} ms — they must be equal")
    if (children.exists(_.isInstanceOf[REvents]))
      throw ResolveError("combinators are not defined over event streams")
    RComb(n, children)
  }
}
