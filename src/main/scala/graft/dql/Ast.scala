package graft.dql

/** DQL abstract syntax (reference grammar: `src/dql_parser.yrl`, token set
  * `src/dql_lexer.xrl`). Nodes mirror the reference's *semantic* IR, not
  * its Erlang maps: a query is SELECT-elements over series selectors with
  * function chains, an optional ALIAS set, a timeframe, and an optional
  * TOP/BOTTOM limit.
  */
object Ast {

  // ------------------------------------------------------------ leaves

  sealed trait Expr

  /** `'a'.'b' BUCKET 'bkt'` — direct series scan; a `*` part makes it a
    * glob scan (sget, `src/dql_parser.yrl:239-244`).
    */
  final case class Get(path: Seq[String], bucket: String) extends Expr

  /** `<metric|ALL> FROM <collection> [WHERE tags] [GROUP BY $tags USING f]`
    * (`src/dql_parser.yrl:264-274`, `:252-262`).
    */
  final case class Lookup(path: Option[Seq[String]], collection: String,
                          where: Option[TagFilter],
                          groupBy: Seq[(String, String)] = Nil,
                          groupFun: Option[String] = None) extends Expr

  /** `EVENTS FROM 'bucket' [WHERE filter]` (`src/dql_parser.yrl:74-86`). */
  final case class EventsScan(bucket: String,
                              filter: Option[EventFilter]) extends Expr

  /** function application; infix series math lowers to fcalls
    * (`src/dql_parser.yrl:132-158`).
    */
  final case class FCall(name: String, args: Seq[Expr]) extends Expr

  /** numeric literal (parser folds constant arithmetic,
    * `src/dql_parser.yrl:183-193`).
    */
  final case class Num(v: Double, isInt: Boolean) extends Expr {
    def render: String =
      if (isInt) v.toLong.toString else v.toString
  }

  /** duration literal `N ms|s|m|h|d|w` (`src/dqe_time.erl:12-28`). */
  final case class TimeLit(n: Long, unit: String) extends Expr {
    def ms: Long = TimeLit.unitMs(unit) * n
  }
  object TimeLit {
    val units: Seq[String] = Seq("ms", "s", "m", "h", "d", "w")
    def unitMs(u: String): Long = u match {
      case "ms" => 1L
      case "s"  => 1000L
      case "m"  => 60L * 1000
      case "h"  => 3600L * 1000
      case "d"  => 86400L * 1000
      case "w"  => 7L * 86400 * 1000
    }
  }

  /** reference to an ALIAS-defined subtree (`src/dql_alias.erl`). */
  final case class Var(name: String) extends Expr

  // ------------------------------------------------------- tag filters

  sealed trait TagFilter
  final case class TagEq(ns: String, key: String, value: String) extends TagFilter
  final case class TagNeq(ns: String, key: String, value: String) extends TagFilter
  final case class TagAnd(a: TagFilter, b: TagFilter) extends TagFilter
  final case class TagOr(a: TagFilter, b: TagFilter) extends TagFilter

  // ----------------------------------------------------- event filters

  sealed trait EventFilter
  final case class ECmp(path: Seq[String], op: String, value: Either[String, Double]) extends EventFilter
  final case class ERegex(path: Seq[String], pattern: String) extends EventFilter
  final case class EAnd(a: EventFilter, b: EventFilter) extends EventFilter
  final case class EOr(a: EventFilter, b: EventFilter) extends EventFilter
  final case class ENot(f: EventFilter) extends EventFilter

  // -------------------------------------------------------- timeframe

  sealed trait Point
  final case class AbsMs(ms: Long) extends Point
  case object Now extends Point
  final case class Ago(t: TimeLit) extends Point

  sealed trait Timeframe
  final case class Last(t: TimeLit) extends Timeframe
  final case class Between(a: Point, b: Point) extends Timeframe
  final case class After(p: Point, t: TimeLit) extends Timeframe
  final case class Before(p: Point, t: TimeLit) extends Timeframe

  // ----------------------------------------------------------- naming

  sealed trait NamePart
  final case class NLit(s: String) extends NamePart
  /** `$N` — N-th metric path segment (`src/dql_naming.erl:25-70`) */
  final case class NPos(n: Int) extends NamePart
  /** `$ns:tag` — tag value */
  final case class NTag(ns: String, key: String) extends NamePart

  sealed trait MetaVal
  final case class MStr(s: String) extends MetaVal
  final case class MNum(v: Double, isInt: Boolean) extends MetaVal

  // ------------------------------------------------------------ query

  final case class Selector(expr: Expr, shift: Option[TimeLit] = None,
                            name: Option[Seq[NamePart]] = None,
                            metadata: Seq[(String, MetaVal)] = Nil)

  /** `TOP|BOTTOM n BY fun()` (`src/dql_parser.yrl:41-44`) */
  final case class Limit(top: Boolean, n: Int, fun: String)

  final case class Query(selectors: Seq[Selector],
                         aliases: Map[String, Expr],
                         timeframe: Timeframe,
                         limit: Option[Limit])
}
