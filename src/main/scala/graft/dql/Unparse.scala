package graft.dql

import Ast._

/** AST → canonical DQL text (reference: `src/dql_unparse.erl`; the engine
  * ships an unparser because the primary property test is the
  * parse∘unparse fixpoint, SURVEY §5).
  */
object Unparse {
  // backslash FIRST: the lexer treats \x as escaped x, so an unescaped
  // backslash in a part would swallow the next char on re-lex (and a
  // trailing one would eat the closing quote) — the exact fixpoint
  // break the unparser exists to prevent (r17 review)
  private def q(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
  private def pathStr(p: Seq[String]): String =
    p.map(x => if (x == "*") "*" else q(x)).mkString(".")

  def expr(e: Expr): String = e match {
    case Get(path, bucket) => s"${pathStr(path)} BUCKET ${q(bucket)}"
    case Lookup(path, coll, where, gb, gf) =>
      val p = path.fold("ALL")(pathStr)
      val w = where.fold("")(f => s" WHERE ${tagFilter(f)}")
      val g =
        if (gb.isEmpty) ""
        else " GROUP BY " + gb.map { case (ns, k) =>
          if (ns.isEmpty) s"$$${q(k)}" else s"$$${q(ns)}:${q(k)}"
        }.mkString(", ") + s" USING ${q(gf.get)}"
      s"$p FROM ${q(coll)}$w$g"
    case EventsScan(bucket, f) =>
      s"EVENTS FROM ${q(bucket)}" + f.fold("")(x => s" WHERE ${eventFilter(x)}")
    case FCall(op @ ("__add" | "__sub" | "__mul" | "__div"), Seq(a, b)) =>
      val sym = Map("__add" -> "+", "__sub" -> "-", "__mul" -> "*", "__div" -> "/")(op)
      s"(${expr(a)} $sym ${expr(b)})"
    case FCall(name, args) => s"$name(${args.map(expr).mkString(", ")})"
    case n: Num            => n.render
    case t: TimeLit        => s"${t.n} ${t.unit}"
    case Var(n)            => q(n)
  }

  def tagFilter(f: TagFilter): String = f match {
    case TagEq(ns, k, v) =>
      val t = if (ns.isEmpty) q(k) else s"${q(ns)}:${q(k)}"
      s"$t = ${q(v)}"
    case TagNeq(ns, k, v) =>
      val t = if (ns.isEmpty) q(k) else s"${q(ns)}:${q(k)}"
      s"$t != ${q(v)}"
    case TagAnd(a, b) => s"(${tagFilter(a)} AND ${tagFilter(b)})"
    case TagOr(a, b)  => s"(${tagFilter(a)} OR ${tagFilter(b)})"
  }

  def eventFilter(f: EventFilter): String = f match {
    case ECmp(p, op, v) =>
      val vs = v.fold(q, n => if (n == n.floor && !n.isInfinite) n.toLong.toString else n.toString)
      s"${ePath(p)} $op $vs"
    case ERegex(p, pat) => s"${ePath(p)} ~= ${q(pat)}"
    case EAnd(a, b)     => s"(${eventFilter(a)} AND ${eventFilter(b)})"
    case EOr(a, b)      => s"(${eventFilter(a)} OR ${eventFilter(b)})"
    case ENot(g)        => s"NOT ${eventFilter(g)}"
  }
  // dotted segments are QUOTED parts (the parser's part() reads quoted
  // tokens; bare words only happen to lex for plain identifiers — a
  // part with a quote/backslash must round-trip through q(), the r17
  // fixpoint-fuzz find); bracket indices stay raw
  private def ePath(p: Seq[String]): String =
    q(p.head) + p.tail.map(s =>
      if (s.startsWith("[")) s else "." + q(s)).mkString

  private def point(p: Point): String = p match {
    case AbsMs(ms) => ms.toString
    case Now       => "NOW"
    case Ago(t)    => s"${t.n} ${t.unit} AGO"
  }

  def timeframe(tf: Timeframe): String = tf match {
    case Last(t)       => s"LAST ${t.n} ${t.unit}"
    case Between(a, b) => s"BETWEEN ${point(a)} AND ${point(b)}"
    case After(p, t)   => s"AFTER ${point(p)} FOR ${t.n} ${t.unit}"
    case Before(p, t)  => s"BEFORE ${point(p)} FOR ${t.n} ${t.unit}"
  }

  private def namePart(n: NamePart): String = n match {
    case NLit(s)     => q(s)
    case NPos(i)     => s"$$$i"
    case NTag("", k) => s"$$${q(k)}"
    case NTag(ns, k) => s"$$${q(ns)}:${q(k)}"
  }

  private def metaVal(v: MetaVal): String = v match {
    case MStr(s)           => q(s)
    case MNum(n, true)     => n.toLong.toString
    case MNum(n, false)    => n.toString
  }

  /** METADATA {…} as the constant JSON object both compilers attach to
    * a selector's rows: keys and strings double-quoted, integral numbers
    * without a fraction
    */
  def metadataJson(md: Seq[(String, MetaVal)]): String =
    md.map { case (k, v) =>
      val vs = v match {
        case MStr(s)        => "\"" + s + "\""
        case MNum(n, true)  => n.toLong.toString
        case MNum(n, false) => n.toString
      }
      "\"" + k + "\": " + vs
    }.mkString("{", ", ", "}")

  def selector(s: Selector): String = {
    val base = expr(s.expr)
    val sh = s.shift.fold("")(t => s" SHIFT BY ${t.n} ${t.unit}")
    val as = s.name.fold("")(ps => " AS " + ps.map(namePart).mkString("."))
    val md =
      if (s.metadata.isEmpty) ""
      else " METADATA {" + s.metadata.map { case (k, v) =>
        s"${q(k)}: ${metaVal(v)}"
      }.mkString(", ") + "}"
    base + sh + as + md
  }

  def apply(query: Query): String = {
    val sels = query.selectors.map(selector).mkString(", ")
    val al =
      if (query.aliases.isEmpty) ""
      else " ALIAS " + query.aliases.toSeq.sortBy(_._1).map { case (n, e) =>
        s"${q(n)} = ${expr(e)}"
      }.mkString(", ")
    val lim = query.limit.fold("") { l =>
      s" ${if (l.top) "TOP" else "BOTTOM"} ${l.n} BY ${l.fun}()"
    }
    s"SELECT $sels$al ${timeframe(query.timeframe)}$lim"
  }
}
