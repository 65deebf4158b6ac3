package graft.sql

import org.apache.spark.sql.DataFrame
import graft.ir._
import graft.compile.Compiler
import graft.operators.GapWindows

/** SQL front door — the reference's `ZX.SQL` surface (lib.rs:815-844,
  * expr.rs:106-230) as a hand-rolled recursive-descent parser to [[ZxQuery]].
  *
  * SCRIPTS (p116, [[runScript]]): `stmt; stmt; …` — create/insert/
  * delete/update/drop route to the write faces against a warehouse,
  * reads through the catalog, each statement seeing earlier writes
  * (manifest-pinned). VIEWS (p126): `create view <name> as
  * <statement>` / `drop view [if exists] <name>` — script-scoped named
  * statements, nothing materializes; a view body RE-COMPILES against
  * each later statement's catalog, so it re-reads its base stores at
  * use time (an insert after creation is visible through the view;
  * CTAS is the materialized counterpart). Views are read-only, never
  * shadow, and layer in creation order. `show tables` (p129) lists the
  * script's catalog objects (committed stores + live views), one
  * sorted name per row. TIME TRAVEL (p117): any FROM may spell
  * `<name> version <k>` under runScript — create = v0, each commit +1;
  * one statement can read two versions of one store (`… from t
  * version 0 except … from t` = the deleted rows).
  *
  * Accepted subset (reference-parity, lowercased like lib.rs:818-820):
  *   [with <name> as (<statement>) [, <name> as (…)]*]   — CTEs; each
  *     body is a full statement (set ops included), later CTEs and the
  *     main statement see earlier ones by name (runCatalog only: CTEs
  *     resolve tables by NAME; run(df, …)/streams reject it loudly).
  *     MULTI-REFERENCE contract: a CTE referenced N times repeats its
  *     logical subtree (no eager cache), and the physical planner
  *     dedupes the identical exchange subtrees — everything at or below
  *     a shuffle inside the body computes ONCE (PlanSpec-pinned
  *     ReusedExchange); a pure-scan body re-plans per reference so each
  *     keeps its own pushed-down gates — the right trade at 100 TB,
  *     where caching would defeat pushdown and materialize the body
  *   select [distinct] <item, …> [from <table> | from (select …)]
  *   [where <boolexpr>]
  *   [asof|trailing join <t> on k = rk [and k2 = rk2 …] at tl >= tr …]
  *   [[left|right|full] join <t|(select …)> on k = rk [and …]]*
  *   [[semi|anti] join <t|(select …)> on k = rk [and …]]*   — EXISTS /
  *     NOT EXISTS as row FILTERS (composite keys, derived key sets;
  *     applied BEFORE everything else, so they compose with aggregates,
  *     windows, distinct, sequence ops, and streams — a stream-static
  *     semi/anti probe is stateless)
  *   [group by [rollup|cube|sets] <col, …>]
  *   [having <boolexpr over aggregate comparisons>]   — full OR/AND/NOT/
  *     parens structure (p110, WHERE precedence); leaves are `aggitem
  *     cmp num`; filter-only aggregates are computed and pruned; a pure
  *     AND-chain keeps the legacy compile exactly
  *   [qualify <boolexpr over window aliases + selected cols>]
  *   [order by <item>|<ordinal> [asc|desc] [nulls first|last], …] —
  *     an ordinal is the 1-based SELECT-LIST position (group keys
  *     surface separately in this dialect and are ordered by name);
  *     the engines'
  *     null-placement DEFAULTS differ (Spark ASC = nulls first, DuckDB
  *     ASC = nulls last): nullable sort keys spell it explicitly (p106)
  *   [limit <n> [per <col>]] [offset <m>]   — LIMIT n OFFSET m = rows
  *     m+1 … m+n of the ordered output (pagination, p105): ORDER BY
  *     required, folds with the limit into ONE TakeOrdered boundary
  *     (never a global sort); rejected with `limit per` (a per-group cut
  *     has no global row order); a compound's trailing offset pages the
  *     COMPOSED result
  *   [granularity <seconds>] [slide <seconds>]
  *   [session <gapSeconds>] [salt <n>] [exact]
  * and statements compose with set operators (one kind per statement):
  *   <query> union [all] <query> | <query> except <query>
  *   | <query> intersect <query>
  * plus the sequence/corpus operator clauses (journeys/funnel/…/sample/
  * mixture/dedup/knn/mmr — see the grammar below), where `knn using
  * <index>` and `mmr using <index>` probe a PREBUILT catalog-resolved
  * IVF index read-only instead of brute-forcing the corpus.
  * where item := col | count|sum|max|min|count_distinct|mean|p50|heatmap
  *               |approx_count_distinct|p50_approx|stddev|variance(col)
  *               | count(*) | corr|covar_samp(x, y) as name  — two-arg
  *                 dispersion over measure-grammar arguments (p91)
  *               | agg(measure-expr) as name | agg(col) as name
  *               | max_by|min_by(x, y) as name  — argmax aggregates
  *                 (p102): the x of the row with the largest/smallest y,
  *                 DETERMINISTIC by contract (ties in y break toward the
  *                 larger/smaller x); rows with NULL y are skipped; x
  *                 keeps its RAW type (strings/timestamps carry), y is a
  *                 sortable measure; ONE struct-ordered max/min — no
  *                 window, no second pass
  *               | string_agg(col, 'sep') [as name]  — the group's
  *                 values SORTED ascending (p103; ANSI leaves the order
  *                 undefined — unverifiable), NULLs skipped, all-null
  *                 group → NULL (DuckDB parity); literal separator
  *               | count(distinct col|measure-expr) [as name]  — the
  *                 ANSI spelling (p104): NULL is NOT counted, unlike
  *                 count_distinct's reference +1-nil convention
  *               | agg(…) filter (where <boolexpr>) as name  — ANSI
  *                 filtered aggregation (p119): a parse-level rewrite
  *                 into the CASE machinery, so N differently-filtered
  *                 aggregates still cost ONE hash aggregate; `as`
  *                 required; refused for raw/heatmap/count_distinct/
  *                 string_agg (see applyFilter)
  *               | count(distinct a, b) as name  — multi-key distinct
  *                 (p122): the pair is the key, any-NULL rows skipped
  *                 (ANSI); wider tuples via a derived-table distinct
  *               | bool_and|bool_or(<boolexpr>) as name  — boolean
  *                 quantifiers (p120; every/any spellings too): a full
  *                 WHERE-grammar predicate, three-valued (NULL
  *                 predicates skipped, empty set → NULL), BOOLEAN
  *                 result; never enters arithmetic
  *               | skewness|kurtosis(measure) as name  — POPULATION
  *                 skewness / EXCESS kurtosis (p121; DuckDB's own are
  *                 the bias-corrected SAMPLE forms — oracles spell the
  *                 central moments explicitly)
  *               | mode(measure|string-expr) [as name]  — the most
  *                 frequent value, DETERMINISTIC (p124): ties break
  *                 toward the smallest value; NULLs skipped
  *               | pivot <agg>(<measure>) by <col> in ('v' [as n], …)
  *                 — conditional-aggregation pivot (p123): each value
  *                 desugars to a filtered aggregate, K columns = ONE
  *                 hash aggregate; explicit literal value list only
  *                 (dynamic pivot = data-dependent schema = two passes)
  *               | row_number|rank|dense_rank|percent_rank|cume_dist()
  *                 over (partition by <col, …>
  *                 order by <col [asc|desc], …>) as name
  *               | lag|lead(col [, n]) over (…) as name
  *               | sum|mean|min|max|count(col)|count(*) over
  *                 (partition by … [order by …]) as name   — aggregate
  *                 windows: whole-partition total without order by, the
  *                 RUNNING form with it (SQL default RANGE frame, ties
  *                 as peers — both plain row semantics, unweighted)
  *               | first_value|last_value(col) over (…) as name
  *               | nth_value(col, n) over (…) as name  — the partition's
  *                 n-th row in ORDER BY order over the FULL frame (p114)
  *               | ntile(n) over (…) as name
  *                 (analytic window items — raw-projection queries only;
  *                 partition by is required, order by wherever the
  *                 function is order-sensitive; `qualify` filters the
  *                 windowed frame: dedup-keep-best is `qualify rn = 1`)
  * and measure-expr := arithmetic over columns, numeric literals, and
  * SCALAR FUNCTION calls (p76: abs, floor, ceil, sqrt, exp, ln, log10,
  * pow, round(x[, digits]), length; p108 adds `%`/mod(x, y) — C-style
  * remainder, sign of the DIVIDEND, null on a zero divisor (DuckDB's `%`
  * agrees exactly; its fmod() is FLOORED and never appears in oracles) —
  * and sign(x) as DOUBLE; p101 adds string surgery replace(s, 'a', 'b')/
  * split_part(s, 'sep', n)/lpad/rpad(s, n, 'p')/reverse(s) — string-
  * typed, literal non-empty search/separator/pad args — plus
  * strpos(s, 'sub'): 1-based position, 0 when absent, BIGINT so it
  * gates and computes; p125 adds regexp_extract(s, 'pattern', group) —
  * the capture group's text, '' on no match (BOTH engines), portable
  * subset + group index validated at parse; p107 adds
  * date_trunc('<unit>', <ts col>) —
  * a real TIMESTAMP under the UTC contract (unit ∈ year/quarter/month/
  * week/day/hour/minute, ISO weeks): it projects and groups (derived
  * table) and feeds max/min/count(distinct …), never arithmetic or CASE
  * — row-wise, identical IEEE semantics
  * on both engines; in call position these names are reserved, as bare
  * columns they stay reachable; p79 adds STRING functions lower/upper/
  * trim/substr(s, start, len) and string literals — string expressions
  * project, label CASE branches, and compare with = / != ONLY (order
  * would ride collation); they never enter arithmetic or aggregates;
  * p82 adds CALENDAR extractors year/month/day/hour/minute(<ts col>) —
  * BIGINT fields under the UTC contract, so `group by` a derived-table
  * `year(o_orderdate) as yr` is the calendar rollup; p111 adds second
  * (fraction truncated on both engines) and isodow (ISO day-of-week,
  * 1 = Monday … 7 = Sunday — the day-of-week profile key); p84 adds
  * null-handling coalesce(x, …)/nullif(x, y)/greatest/least — greatest
  * and least SKIP nulls on both engines; p85 adds JSON props extraction
  * json_num/json_str(<col>, '<key>') — simple-identifier keys only,
  * missing key → NULL, json_num try_casts (dirty data degrades, never
  * kills the job), json_str joins the p79 string discipline and the
  * distinct-counting aggregates accept string expressions)
  *
  * Generator (p85/p86): `explode(<col>, '<sep>') as <name>` — one per
  * query, RAW path only (aggregate over a derived exploded table for
  * word/tag counts); applied AFTER where (SQL visibility), BEFORE
  * distinct/order/limit; literal separator, string_split edge parity
  * (NULL → zero rows, '' → one '' row, trailing sep → trailing '');
  * stateless narrow row-multiplier, so it STREAMS.
  *
  * Aggregate windows take an optional MOVING frame (p87): `sum(v) over
  * (partition by k order by t [, tiebreak…] rows <n> preceding) as m`
  * = ROWS BETWEEN n PRECEDING AND CURRENT ROW; p115 adds the TWO-SIDED
  * spelling `rows between <m> preceding and <n> following` (the centered
  * smoother); order-sensitive under ties like all of SQL — spell a
  * unique tiebreak.
  *
  * `sample exact <n> [key <col>] per <col>` (p88): exactly n rows from
  * EVERY group — the same md5 coin as the global form ranked within
  * each group; WindowGroupLimit-compiled, so unlike the global form n
  * is unbounded (never driver-resident).
  * with `+ - * /`, parens, unary minus
  * (standard precedence; `/` is
  * null-on-zero-divisor on both engines) — `sum(price * (1 - discount))
  * as revenue`, evaluated row-wise so it codegens and partial-aggregates
  * exactly like a plain column. Expression measures REQUIRE `as` (no
  * canonical name exists); `having`/`order by` reference the alias by
  * name. heatmap and the `exact` gap walk take plain columns only.
  * The same arithmetic works as a RAW-PATH projection (p71):
  * `select id, price * (1 - discount) as net` — compiled by the measure
  * compiler, so computed columns codegen like plain ones, column pruning
  * sees through them, DISTINCT / ORDER BY (by alias) / LIMIT compose,
  * analytic windows can partition/order by them, and they stream
  * (stateless row arithmetic). Raw expression projections do not mix
  * with aggregates in one select list (row arithmetic goes INSIDE the
  * aggregate there).
  * and boolexpr := full boolean structure with OR / AND / NOT / parens
  * (precedence NOT > AND > OR — extension: the reference is AND-only,
  * expr.rs:75-80, and punts every other operator, expr.rs:99)
  * over cond := col (=|!=|<>|>|<|>=|<=) value | col [not] like pattern
  *            | col [not] regexp 'pattern'   — regexp_like semantics
  *              (p125): substring match, ^$ anchors; PORTABLE subset
  *              only (no lookaround/backreferences — java.regex ∩ RE2),
  *              pattern pre-compiled at parse; never pushes into the
  *              scan (use LIKE for pushable prefix/contains gates)
  *            | col [not] in (value, …) | col [not] between lo and hi
  *            | col is [not] null   — SQL spelling of exists/notexists
  *            | measure-expr (=|!=|<>|>|<|>=|<=) measure-expr
  * (IN desugars to OR-of-equalities, BETWEEN to Gte AND Lte — both ride
  * the condition tree and still push into the scan). An arithmetic LEFT
  * side engages the numeric expression predicate (`price * (1 - disc) >
  * 1000`, column-vs-column as `a - b > 0`) — evaluated post-scan, while
  * sibling plain conjuncts still push; a bare `col cmp value` keeps the
  * reference's string/bare-identifier semantics unchanged. Range
  * comparators against TIMESTAMP / TIMESTAMP_NTZ columns take quoted
  * DATE / DATETIME literals (`o_orderdate < '1998-01-01'`), compared in
  * the column's own type so the bound pushes into the Parquet scan.
  * [[runCatalog]] resolves the base frame from the query's own
  * `from <table>` against a caller catalog; `run(df, …)` keeps ignoring
  * FROM (reference parity).
  * `$t_start` / `$t_end` equality conditions become the scan's time range
  * (expr.rs:170-186).
  *
  * Fixes over the reference (SURVEY §7.4 — implement correct behavior):
  *  - `!=` is real inequality (reference maps NotEq to Eq, expr.rs:66-74);
  *  - LIKE handles `%` wildcards: `%x%`→contains, `x%`→startswith, plain →
  *    equality (reference treats every pattern as raw contains, expr.rs:81-98);
  *  - ORDER BY is wired to the sorted path (dead code in the reference,
  *    lib.rs:840) — `order by mean(foo) desc` is the "top groups" query.
  * Extensions: quoted string literals in WHERE (reference allows only bare
  * identifiers/numbers, expr.rs:12-18), `limit <n>` (sort+limit compiles to
  * per-partition top-k), `heatmap(col)` with adaptive bounds, a
  * `granularity <sec>` clause (reference hard-codes 5 minutes, expr.rs:226),
  * `count(*)` (the README's own example shape — counts every row,
  * weighted), sketch aggregates `approx_count_distinct`/`p50_approx` for
  * 100 TB cardinalities, and a trailing `exact` keyword routing windows
  * through the reference-parity gap walk.
  */
object ZxSql {

  final case class ParseError(msg: String) extends RuntimeException(msg)

  /** Rejects regex constructs outside the PORTABLE subset (p125): Spark
    * evaluates java.util.regex, DuckDB evaluates RE2 — they agree only
    * without lookaround and backreferences, so both are refused at parse
    * (a pattern must never silently mean two things on the two engines).
    * Also pre-compiles the pattern so a syntax error is a ParseError at
    * the front door, not a mid-job executor exception. */
  private def portableRegexGuard(pat: String): Unit = {
    if (raw"\(\?[=!<]".r.findFirstIn(pat).nonEmpty)
      throw ParseError("regexp pattern uses lookaround or a (?<…> named " +
        "group — outside the portable subset (RE2 has no lookaround; " +
        "named-group spellings differ); rewrite the pattern")
    if (raw"(^|[^\\])\\[1-9]".r.findFirstIn(pat).nonEmpty)
      throw ParseError("regexp pattern uses a backreference — outside " +
        "the portable subset (RE2 has no backreferences)")
    try java.util.regex.Pattern.compile(pat)
    catch { case e: java.util.regex.PatternSyntaxException =>
      throw ParseError(s"bad regexp pattern: ${e.getDescription}") }
  }

  /** True when the tree contains a membership subquery anywhere. */
  private def containsSubquery(t: ConditionTree): Boolean = t match {
    case _: ConditionTree.InSubquery => true
    case ConditionTree.And(cs)       => cs.exists(containsSubquery)
    case ConditionTree.Or(cs)        => cs.exists(containsSubquery)
    case ConditionTree.Not(c)        => containsSubquery(c)
    case _                           => false
  }

  /** True when the tree contains a scalar subquery anywhere. */
  private def containsScalarSub(t: ConditionTree): Boolean = t match {
    case _: ConditionTree.ScalarSubquery => true
    case ConditionTree.And(cs)           => cs.exists(containsScalarSub)
    case ConditionTree.Or(cs)            => cs.exists(containsScalarSub)
    case ConditionTree.Not(c)            => containsScalarSub(c)
    case _                               => false
  }

  /** Scalar functions usable anywhere the measure grammar reaches (p76):
    * name → (minArity, maxArity). All are row-wise with identical IEEE
    * semantics on Spark and DuckDB; `round`'s digit count must be an
    * integer literal, `length` takes a bare string column. In call
    * position these names are reserved; as bare column references they
    * stay reachable. */
  private val scalarFuncs: Map[String, (Int, Int)] = Map(
    "abs" -> ((1, 1)), "floor" -> ((1, 1)), "ceil" -> ((1, 1)),
    "sqrt" -> ((1, 1)), "exp" -> ((1, 1)), "ln" -> ((1, 1)),
    "log10" -> ((1, 1)), "pow" -> ((2, 2)), "round" -> ((1, 2)),
    "length" -> ((1, 1)),
    // string functions (p79) — STRING-typed results; parse guards keep
    // them out of arithmetic and aggregate measures
    "lower" -> ((1, 1)), "upper" -> ((1, 1)), "trim" -> ((1, 1)),
    "substr" -> ((3, 3)), "concat" -> ((2, 4)),
    // calendar field extractors (p82) — a RAW timestamp/date column →
    // BIGINT field under the engine-wide UTC contract; the argument must
    // be a bare column (parse-guarded below)
    "year" -> ((1, 1)), "month" -> ((1, 1)), "day" -> ((1, 1)),
    "hour" -> ((1, 1)), "minute" -> ((1, 1)),
    // p111: second (fraction truncated) + ISO day-of-week (1 = Monday …
    // 7 = Sunday; Spark weekday()+1 ≡ DuckDB isodow) — BIGINT fields
    // under the UTC contract like the rest of the extractor family
    "second" -> ((1, 1)), "isodow" -> ((1, 1)),
    // null-handling scalars (p84) — numeric measure arguments; greatest/
    // least SKIP nulls on both engines (null only when all args are null)
    "coalesce" -> ((2, 4)), "nullif" -> ((2, 2)),
    // ifnull/nvl (p118): the two-argument spellings of coalesce SQL
    // users actually type (DuckDB ifnull; Oracle-style nvl) — same
    // first-non-null semantics, same numeric-measure discipline
    "ifnull" -> ((2, 2)), "nvl" -> ((2, 2)),
    "greatest" -> ((2, 4)), "least" -> ((2, 4)),
    // JSON props extraction (p85) — json_num numeric, json_str string;
    // key is a simple-identifier string literal (parse-guarded)
    "json_num" -> ((2, 2)), "json_str" -> ((2, 2)),
    // datediff(end, start) (p90) — whole DAY-BOUNDARY crossings between
    // two timestamp/date columns (both engines boundary-count under the
    // UTC contract); BIGINT, so it enters arithmetic and aggregates
    "datediff" -> ((2, 2)),
    // string surgery (p101) — literal search/separator/pad arguments
    // (non-empty string literals, parse-guarded), identical edge
    // semantics on both engines: replace is LITERAL (never regex),
    // split_part is 1-based with '' for an out-of-range index, lpad/rpad
    // truncate when the input is already longer
    "replace" -> ((3, 3)), "split_part" -> ((3, 3)),
    // regexp_extract(s, 'pattern', group) (p125) — the capture group's
    // text, '' when the pattern does not match (BOTH engines); pattern
    // restricted to the portable subset, group index validated against
    // the pattern's capture count at parse
    "regexp_extract" -> ((3, 3)),
    "lpad" -> ((3, 3)), "rpad" -> ((3, 3)), "reverse" -> ((1, 1)),
    // strpos(s, 'sub') (p101) — 1-based position, 0 when absent; BIGINT,
    // so it enters arithmetic and predicates
    "strpos" -> ((2, 2)),
    // sign / mod (p108) — sign returns -1/0/1 as DOUBLE (DuckDB's is
    // integer-typed: oracles cast); mod is the named spelling of `%`
    // (C-style remainder, sign of the dividend, null on zero divisor)
    "sign" -> ((1, 1)), "mod" -> ((2, 2)),
    // date_trunc('<unit>', <ts col>) (p107) — calendar truncation to a
    // real TIMESTAMP (UTC contract; ISO weeks start Monday on both
    // engines); projects and groups (derived table), feeds max/min/
    // distinct counts, never enters arithmetic
    "date_trunc" -> ((2, 2)))

  private val aggNames: Map[String, Agg] = Map(
    "count" -> Agg.Count, "sum" -> Agg.Sum, "max" -> Agg.Max,
    "min" -> Agg.Min, "count_distinct" -> Agg.CountDistinct,
    "mean" -> Agg.Mean, "p50" -> Agg.P50, "p90" -> Agg.P90,
    "p99" -> Agg.P99, "heatmap" -> Agg.Heatmap,
    // sketch variants for 100 TB cardinalities/quantiles (extensions)
    "approx_count_distinct" -> Agg.ApproxCountDistinct,
    "p50_approx" -> Agg.P50Approx,
    // dispersion aggregates (p81) — SAMPLE forms, plain ANSI semantics
    // (unweighted like the percentile family); NULL when n < 2
    "stddev" -> Agg.Stddev, "variance" -> Agg.Variance,
    // two-argument dispersion + regression (p91/p92) — alias required
    "corr" -> Agg.Corr, "covar_samp" -> Agg.CovarSamp,
    "regr_slope" -> Agg.RegrSlope, "regr_intercept" -> Agg.RegrIntercept,
    // argmax/argmin aggregates (p102) — DETERMINISTIC by contract (ties
    // in y break toward the larger/smaller x); alias required
    "max_by" -> Agg.MaxBy, "min_by" -> Agg.MinBy,
    // string_agg(col, 'sep') (p103) — values sorted ascending, NULLs
    // skipped, NULL for an all-null group (DuckDB parity)
    "string_agg" -> Agg.StringAgg,
    // percentile(x, q) (p109) — arbitrary exact interpolated quantile;
    // q is a numeric literal in [0, 1]; alias required
    "percentile" -> Agg.Percentile,
    // boolean quantifiers (p120) — a full WHERE-grammar predicate as the
    // argument; three-valued NULL-skip semantics (see Agg.BoolAnd)
    "bool_and" -> Agg.BoolAnd, "bool_or" -> Agg.BoolOr,
    // population skewness / excess kurtosis (p121) — Spark-native
    // formulas; the oracle spells the same central moments explicitly
    "skewness" -> Agg.Skewness, "kurtosis" -> Agg.Kurtosis,
    // deterministic mode (p124) — ties break toward the smallest value
    "mode" -> Agg.Mode,
    // spelling aliases — the names SQL users actually type; same Agg,
    // same default output name as the canonical spelling
    "avg" -> Agg.Mean, "median" -> Agg.P50,
    // ANSI spellings of the boolean quantifiers
    "every" -> Agg.BoolAnd, "any" -> Agg.BoolOr)

  // ------------------------------------------------------------------ lexer

  private sealed trait Tok
  private final case class Ident(v: String) extends Tok
  private final case class Num(v: String) extends Tok
  private final case class Str(v: String) extends Tok
  private final case class Sym(v: String) extends Tok

  private def lex(sql: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val s = sql
    while (i < s.length) {
      val c = s(i)
      if (c.isWhitespace) i += 1
      else if (c == '\'') {
        val end = s.indexOf('\'', i + 1)
        if (end < 0) throw ParseError("unterminated string literal")
        out += Str(s.substring(i + 1, end)); i = end + 1
      } else if (c.isDigit || (c == '-' && i + 1 < s.length && s(i + 1).isDigit)) {
        val j = Iterator.from(i + 1).find(k => k >= s.length || !(s(k).isDigit || s(k) == '.')).get
        out += Num(s.substring(i, j)); i = j
      } else if (c.isLetter || c == '_' || c == '$') {
        val j = Iterator.from(i + 1).find(k =>
          k >= s.length || !(s(k).isLetterOrDigit || s(k) == '_' || s(k) == '$' || s(k) == '.')).get
        out += Ident(s.substring(i, j).toLowerCase); i = j // lowercase, lib.rs:820
      } else if (s.startsWith("!=", i) || s.startsWith("<>", i) ||
                 s.startsWith(">=", i) || s.startsWith("<=", i)) {
        out += Sym(s.substring(i, i + 2)); i += 2
      } else if ("=><(),*+/-%".contains(c)) { out += Sym(c.toString); i += 1 }
      else throw ParseError(s"unexpected character '$c' at $i")
    }
    out.result()
  }

  // ----------------------------------------------------------------- parser

  def parse(sql: String): ZxQuery = parseTokens(lex(sql), 0, nested = false)._1

  /** One query from the token stream starting at `start`; returns the
    * parsed query and the next unconsumed position. `nested = true` is
    * the membership-subquery mode: parsing stops cleanly at the closing
    * `)` (every clause parser is keyword-gated), and the trailing-input
    * check is the CALLER's job. */
  private def parseTokens(toks: Vector[Tok], start: Int,
                          nested: Boolean): (ZxQuery, Int) = {
    var pos = start
    // internal-alias allocator for post-aggregate component calls (see the
    // post-aggregate grammar below); lives up here so the grammar's
    // def-to-def forward references don't cross a value definition
    var paN = 0
    val paByShape = scala.collection.mutable.LinkedHashMap
      .empty[(Agg, String, Option[MeasureExpr], Option[MeasureExpr]), String]
    def peek: Option[Tok] = toks.lift(pos)
    def next(): Tok = {
      if (pos >= toks.length) throw ParseError("unexpected end of input")
      val t = toks(pos); pos += 1; t
    }
    def expectIdent(v: String): Unit = next() match {
      case Ident(`v`) => ()
      case other      => throw ParseError(s"expected '$v', got $other")
    }
    def expectSym(v: String): Unit = next() match {
      case Sym(`v`) => ()
      case other    => throw ParseError(s"expected '$v', got $other")
    }
    def atIdent(v: String): Boolean = peek.contains(Ident(v))

    def ident(): String = next() match {
      case Ident(v) => v
      case other    => throw ParseError(s"expected identifier, got $other")
    }

    def parseLong(v: String, what: String): Long =
      v.toLongOption.getOrElse(throw ParseError(s"expected integer $what, got '$v'"))

    // Bounds-checked Long→Int for parse sites whose IR field is an Int:
    // a silent `.toInt` on 2^32+1 wraps to 1 and samples one row with no
    // error — reject loudly instead.
    def parseInt(v: String, what: String): Int = {
      val n = parseLong(v, what)
      if (n > Int.MaxValue || n < Int.MinValue)
        throw ParseError(s"$what must fit in a 32-bit int, got $n")
      n.toInt
    }

    // Arithmetic measure grammar (extension): standard precedence
    // (* / over + -), parens, unary minus. The lexer folds a minus
    // DIRECTLY before digits into a negative Num — in operator position
    // that IS a subtraction, handled explicitly below.
    def measureAtom(): MeasureExpr = peek match {
      case Some(Sym("(")) => next(); val e = measureSum(); expectSym(")"); e
      case Some(Sym("-")) => next(); MeasureExpr.Neg(numOnly(measureAtom()))
      case Some(Num(v)) =>
        next()
        MeasureExpr.Lit(v.toDoubleOption.getOrElse(
          throw ParseError(s"bad numeric literal '$v'")))
      case Some(Ident("case")) =>
        // `case when <cond> then <expr> [when …]* [else <expr>] end` —
        // the conditional measure. Branch predicates are full WHERE
        // condition trees (comparators, like, in, between, and/or/not),
        // values recurse through the measure grammar; no `else` → NULL
        // (the row contributes nothing). `case` is a reserved word in
        // measure position — a storage column of that name stays
        // reachable everywhere else.
        next()
        if (!atIdent("when"))
          throw ParseError("case needs at least one `when <cond> then <value>` branch")
        val bs = Seq.newBuilder[(ConditionTree, MeasureExpr)]
        while (atIdent("when")) {
          next()
          val c = orExpr()
          if (ConditionTree.columns(c).exists(n => n == "$t_start" || n == "$t_end"))
            throw ParseError("$t_start/$t_end are the scan's time range — " +
              "they cannot appear inside case conditions")
          if (containsSubquery(c) || containsScalarSub(c))
            throw ParseError("subqueries cannot appear inside case " +
              "conditions — filter in WHERE, or compute the threshold " +
              "upstream")
          expectIdent("then")
          bs += ((c, measureSum()))
        }
        val orElse = if (atIdent("else")) { next(); Some(measureSum()) } else None
        expectIdent("end")
        // branch values must be uniformly string or numeric (p79/p80) —
        // a mixed case would silently coerce on one engine and not the
        // other
        locally {
          val vals = bs.result().map(_._2) ++ orElse
          if (vals.exists(MeasureExpr.isString) &&
              !vals.forall(MeasureExpr.isString))
            throw ParseError("case branches mix string and numeric values" +
              " — pick one carrier type for every then/else")
          if (vals.exists(MeasureExpr.isTimestamp))
            throw ParseError("case branches carry numeric or string " +
              "values — truncate/extract the timestamp outside the case")
        }
        MeasureExpr.Case(bs.result(), orElse)
      case Some(Ident(f)) if scalarFuncs.contains(f) &&
          toks.lift(pos + 1).contains(Sym("(")) =>
        // scalar function call (p76). In call position the name is
        // reserved; a bare column of the same name parses below.
        next(); next() // f, (
        val args = Seq.newBuilder[MeasureExpr]
        args += measureSum()
        while (peek.contains(Sym(","))) { next(); args += measureSum() }
        expectSym(")")
        val as = args.result()
        val (lo, hi) = scalarFuncs(f)
        if (as.size < lo || as.size > hi)
          throw ParseError(s"$f takes ${if (lo == hi) s"$lo" else s"$lo-$hi"} " +
            s"argument(s), got ${as.size}")
        if (f == "round" && as.size == 2 && !as(1).isInstanceOf[MeasureExpr.Lit])
          throw ParseError("round's digit count must be an integer literal")
        if (f == "length" && !as.head.isInstanceOf[MeasureExpr.Col])
          throw ParseError("length takes a string column")
        if (MeasureExpr.timeFuncs(f) && !as.head.isInstanceOf[MeasureExpr.Col])
          throw ParseError(s"$f takes a timestamp (or date) column — " +
            "extract the field first, then compute")
        if (f == "datediff" && !as.forall(_.isInstanceOf[MeasureExpr.Col]))
          throw ParseError("datediff(end, start) takes two timestamp " +
            "(or date) columns")
        if (f == "concat" && !as.forall(x =>
            x.isInstanceOf[MeasureExpr.Col] || MeasureExpr.isString(x)))
          throw ParseError("concat takes string columns / expressions / " +
            "literals — numbers need no concatenation, label them in a CASE")
        if (f == "json_num" || f == "json_str") {
          if (!as.head.isInstanceOf[MeasureExpr.Col])
            throw ParseError(s"$f takes a JSON string column first")
          as(1) match {
            case MeasureExpr.StrLit(k)
              if k.nonEmpty && k.forall(ch => ch.isLetterOrDigit || ch == '_') =>
            case _ => throw ParseError(s"$f key must be a simple " +
              "identifier string literal ('k', 'user_id', …) — nested " +
              "paths would ride engine-specific path syntax")
          }
        }
        if (MeasureExpr.stringFuncs(f) &&
            !(as.head.isInstanceOf[MeasureExpr.Col] || MeasureExpr.isString(as.head)))
          throw ParseError(s"$f takes a string column or string expression")
        if (f == "substr") {
          val ok = as.tail.forall {
            case MeasureExpr.Lit(v) => v == v.toInt.toDouble
            case _                  => false
          }
          if (!ok) throw ParseError("substr(s, start, len) takes integer literals")
          val MeasureExpr.Lit(st) = as(1): @unchecked
          if (st < 1) throw ParseError("substr start is 1-based (≥ 1)")
        }
        // p101 string surgery: search/separator/pad arguments are
        // NON-EMPTY STRING LITERALS — empty patterns ride engine-specific
        // conventions (DuckDB and Spark disagree on replace(s, '', x))
        def strLitArg(i: Int, what: String): String = as(i) match {
          case MeasureExpr.StrLit(v) if v.nonEmpty => v
          case _ => throw ParseError(
            s"$f $what must be a non-empty string literal")
        }
        def intLitArg(i: Int, what: String, min: Int): Int = as(i) match {
          case MeasureExpr.Lit(v) if v == v.toInt.toDouble && v.toInt >= min =>
            v.toInt
          case _ => throw ParseError(s"$f $what must be an integer literal ≥ $min")
        }
        f match {
          case "replace" => strLitArg(1, "search"); as(2) match {
            case MeasureExpr.StrLit(_) =>
            case _ => throw ParseError("replace replacement must be a string literal")
          }
          case "split_part" => strLitArg(1, "separator"); intLitArg(2, "index", 1)
          case "regexp_extract" =>
            val p = strLitArg(1, "pattern")
            portableRegexGuard(p)
            val g = intLitArg(2, "group", 0)
            val caps = java.util.regex.Pattern.compile(p).matcher("").groupCount()
            if (g > caps) throw ParseError(
              s"regexp_extract group $g exceeds the pattern's $caps capture group(s)")
          case "lpad" | "rpad" => intLitArg(1, "length", 0); strLitArg(2, "pad")
          case "strpos" => strLitArg(1, "search")
          case "date_trunc" =>
            as.head match {
              case MeasureExpr.StrLit(u) if MeasureExpr.dateTruncUnits(u) =>
              case _ => throw ParseError("date_trunc unit must be one of " +
                MeasureExpr.dateTruncUnits.toSeq.sorted.mkString("'", "'/'", "'") +
                " (a string literal)")
            }
            if (!as(1).isInstanceOf[MeasureExpr.Col])
              throw ParseError("date_trunc takes a timestamp (or date) column")
          case _ =>
        }
        if (!MeasureExpr.stringFuncs(f) && f != "length" && f != "json_num" &&
            f != "strpos" && f != "date_trunc" &&
            as.exists(MeasureExpr.isString))
          throw ParseError(s"$f takes numeric arguments — string " +
            "expressions compare with = / != or project directly")
        if (!MeasureExpr.timestampFuncs(f) && !MeasureExpr.timeFuncs(f) &&
            f != "datediff" && as.exists(MeasureExpr.isTimestamp))
          throw ParseError(s"$f takes numeric arguments — truncated " +
            "timestamps project or group; extract fields (year/month/…) " +
            "to compute")
        MeasureExpr.Func(f, as)
      case Some(Str(v)) =>
        // string literal in measure position (p79) — the value side of a
        // string-expression comparison or a string CASE label
        next(); MeasureExpr.StrLit(v)
      case Some(Ident(v)) => next(); MeasureExpr.Col(v)
      case other => throw ParseError(s"expected a measure term, got ${other.getOrElse("end of input")}")
    }
    // strings never enter arithmetic (p79): compare with = / !=, or
    // project them — the guard fires at the operator, with words
    def numOnly(e: MeasureExpr): MeasureExpr = {
      if (MeasureExpr.isString(e))
        throw ParseError("string expressions do not enter arithmetic — " +
          "compare with = / !=, or project them directly")
      if (MeasureExpr.isTimestamp(e))
        throw ParseError("timestamp expressions do not enter arithmetic — " +
          "extract fields (year/month/…) or datediff to compute")
      e
    }
    def measureTerm(): MeasureExpr = {
      var e = measureAtom()
      while (peek.contains(Sym("*")) || peek.contains(Sym("/")) ||
             peek.contains(Sym("%"))) {
        val Sym(op) = next(): @unchecked
        e = MeasureExpr.Bin(op, numOnly(e), numOnly(measureAtom()))
      }
      e
    }
    def measureSum(): MeasureExpr = {
      var e = measureTerm()
      var more = true
      while (more) peek match {
        case Some(Sym("+")) =>
          next(); e = MeasureExpr.Bin("+", numOnly(e), numOnly(measureTerm()))
        case Some(Sym("-")) =>
          next(); e = MeasureExpr.Bin("-", numOnly(e), numOnly(measureTerm()))
        case Some(Num(v)) if v.startsWith("-") =>
          // `a -3` lexes as Ident(a), Num(-3): subtraction of the
          // positive — which opens a TERM, so `a -3 * b` still binds
          // the multiplication first (a - (3 * b))
          next()
          var t: MeasureExpr = MeasureExpr.Lit(
            v.drop(1).toDoubleOption.getOrElse(
              throw ParseError(s"bad numeric literal '$v'")))
          while (peek.contains(Sym("*")) || peek.contains(Sym("/")) ||
                 peek.contains(Sym("%"))) {
            val Sym(op) = next(): @unchecked
            t = MeasureExpr.Bin(op, t, measureAtom())
          }
          e = MeasureExpr.Bin("-", numOnly(e), t)
        case _ => more = false
      }
      e
    }

    // One aggregate call (`sum(expr)`, `count(*)`) or a bare raw column —
    // the shared leaf of plain select items, HAVING/ORDER BY references,
    // trailing-agg lists, AND the post-aggregate expression grammar below.
    // Every site also accepts the ANSI `filter (where …)` suffix (p119)
    // via maybeFilter.
    def aggCallOrRaw(): Select = maybeFilter(aggCallOrRaw0())
    def aggCallOrRaw0(): Select = {
      // a scalar-function ATOM (p76) or a CASE expression (p77) in select
      // position: parse it with the measure machinery and carry it as a
      // Raw expression select — aggSum composes arithmetic around it,
      // selectEntry demands the alias
      peek match {
        case Some(Ident(f)) if scalarFuncs.contains(f) &&
            toks.lift(pos + 1).contains(Sym("(")) =>
          return Select(Agg.Raw, "", expr = Some(measureAtom()))
        case Some(Ident("case")) if toks.lift(pos + 1).contains(Ident("when")) =>
          return Select(Agg.Raw, "", expr = Some(measureAtom()))
        case _ =>
      }
      val name = ident()
      if (peek.contains(Sym("("))) {
        val agg = aggNames.getOrElse(name,
          throw ParseError(s"unknown aggregate '$name' (have: ${aggNames.keys.mkString(", ")})"))
        next() // (
        // two-argument aggregates (p91): corr(x, y) / covar_samp(x, y) —
        // both arguments ride the measure grammar; alias required (the
        // expr-select rule: no canonical name for a two-argument call).
        // max_by/min_by (p102) carry ANY value x (string/timestamp
        // included — the dedup-keep-best carrier) ordered by a sortable
        // y; the dispersion family stays numeric-only.
        if (Agg.twoArg(agg)) {
          val x = measureSum(); expectSym(","); val y = measureSum()
          expectSym(")")
          val argish = agg == Agg.MaxBy || agg == Agg.MinBy
          if (!argish && (MeasureExpr.isString(x) || MeasureExpr.isString(y)))
            throw ParseError(s"${agg.name} takes numeric measures — " +
              "string expressions do not correlate")
          if (argish && MeasureExpr.isString(y))
            throw ParseError(s"${agg.name} orders by a sortable measure — " +
              "a string ordering key would ride collation; rank strings " +
              "with a window instead")
          return Select(agg, "", expr = Some(x), expr2 = Some(y))
        }
        // bool_and/bool_or (p120): the argument is a full WHERE-grammar
        // PREDICATE, not a measure — parse it with the condition grammar
        // and desugar to the three-valued indicator CASE (1 = true, 0 =
        // determinately false, NULL = unknown → skipped), so the
        // quantifier rides the same one-pass hash aggregate as any CASE
        // measure and composes with filter/group/having unchanged.
        if (agg == Agg.BoolAnd || agg == Agg.BoolOr) {
          val c = orExpr()
          if (ConditionTree.columns(c).exists(n => n == "$t_start" || n == "$t_end"))
            throw ParseError("$t_start/$t_end are the scan's time range — " +
              s"they cannot appear inside ${agg.name}")
          if (containsSubquery(c) || containsScalarSub(c))
            throw ParseError(s"subqueries cannot appear inside ${agg.name}" +
              " — filter in WHERE, or compute the threshold upstream")
          expectSym(")")
          return Select(agg, "", expr = Some(MeasureExpr.Case(Seq(
            (c, MeasureExpr.Lit(1.0)),
            (ConditionTree.Not(c), MeasureExpr.Lit(0.0))), None)))
        }
        // string_agg(col, 'sep') (p103): value then a LITERAL separator
        if (agg == Agg.StringAgg) {
          val x = measureSum()
          expectSym(",")
          val sep = next() match {
            case Str(v) => v
            case other => throw ParseError(
              s"string_agg separator must be a string literal, got $other")
          }
          expectSym(")")
          if (MeasureExpr.isTimestamp(x))
            throw ParseError("string_agg concatenates string values — " +
              "extract/format the timestamp first")
          return (x match {
            // bare column keeps the canonical name (string_agg_<col>);
            // expressions require `as` like every expression measure
            case MeasureExpr.Col(c) =>
              Select(agg, c, expr2 = Some(MeasureExpr.StrLit(sep)))
            case e =>
              Select(agg, "", expr = Some(e),
                expr2 = Some(MeasureExpr.StrLit(sep)))
          })
        }
        // percentile(x, q) (p109): arbitrary exact quantile — q is a
        // parse-enforced numeric literal in [0, 1]; the Select always
        // carries the expr form, so the alias-required rule applies
        // (two quantiles of one column must not collide on a name)
        if (agg == Agg.Percentile) {
          val x = measureSum()
          expectSym(",")
          val qv = next() match {
            case Num(v) =>
              val d = v.toDoubleOption.getOrElse(
                throw ParseError(s"bad percentile fraction '$v'"))
              if (d < 0.0 || d > 1.0)
                throw ParseError(s"percentile fraction must be in [0, 1], got $d")
              d
            case other => throw ParseError(
              s"percentile takes a numeric literal fraction, got $other")
          }
          expectSym(")")
          if (MeasureExpr.isString(x) || MeasureExpr.isTimestamp(x))
            throw ParseError("percentile takes a numeric measure")
          return Select(agg, "", expr = Some(x),
            expr2 = Some(MeasureExpr.Lit(qv)))
        }
        // count(distinct x) (p104): the ANSI spelling — NULL not counted
        // (the reference's +1-nil convention keeps its own name,
        // count_distinct); string expressions are legitimate distinct
        // keys, like the other distinct-counting aggregates
        if (agg == Agg.Count && atIdent("distinct")) {
          next()
          val e = measureSum()
          // multi-key distinct (p122): `count(distinct a, b)` — the
          // distinct key is the PAIR; rows where EITHER side is NULL
          // are skipped (ANSI multi-argument COUNT DISTINCT — pinned
          // against Spark's countDistinct in the spec). Two keys —
          // wider tuples compose via a derived-table distinct + count.
          // Alias required (no canonical name for a pair).
          if (peek.contains(Sym(","))) {
            next()
            val e2 = measureSum()
            expectSym(")")
            return Select(Agg.DistinctCount, "", expr = Some(e),
              expr2 = Some(e2))
          }
          expectSym(")")
          return (e match {
            case MeasureExpr.Col(c) => Select(Agg.DistinctCount, c)
            case e2                 => Select(Agg.DistinctCount, "", expr = Some(e2))
          })
        }
        // count(*) — the README's own example shape; * counts every row
        if (peek.contains(Sym("*"))) {
          next()
          if (agg != Agg.Count)
            throw ParseError(s"* is only meaningful in count(*), not ${name}(*)")
          expectSym(")")
          Select(agg, "*")
        } else measureSum() match {
          case MeasureExpr.Col(c) => expectSym(")"); Select(agg, c)
          case e =>
            expectSym(")")
            if (agg == Agg.Heatmap)
              throw ParseError("heatmap buckets a plain storage column, not an expression")
            // distinct-counting is SET semantics — a string expression
            // (json_str, lower, a CASE label) is a legitimate distinct
            // key; every other aggregate is numeric arithmetic
            // distinct-counting takes string keys; max/min of a STRING
            // EXPRESSION is the lexical extreme (p113 — a bare string
            // column keeps the reference's parse-on-demand NUMERIC
            // semantics, but a typed expression aggregates in its type;
            // binary/UTF8 order agrees across engines for ASCII data)
            if (MeasureExpr.isString(e) &&
                agg != Agg.CountDistinct && agg != Agg.ApproxCountDistinct &&
                agg != Agg.DistinctCount && agg != Agg.Max && agg != Agg.Min &&
                agg != Agg.Mode)
              throw ParseError(s"${agg.name} takes a numeric measure — " +
                "string expressions belong in projections, = / != " +
                "predicates, count_distinct, and max/min (group by a " +
                "derived-table label to aggregate per label)")
            // a truncated timestamp is orderable and countable, nothing
            // else — max/min ("latest month seen") and the distinct
            // counts take it; sums/means/percentiles do not
            if (MeasureExpr.isTimestamp(e) &&
                agg != Agg.Max && agg != Agg.Min &&
                agg != Agg.CountDistinct && agg != Agg.ApproxCountDistinct &&
                agg != Agg.DistinctCount && agg != Agg.Mode)
              throw ParseError(s"${agg.name} takes a numeric measure — " +
                "timestamps aggregate via max/min/count(distinct …), or " +
                "extract fields (year/month/…) to compute")
            Select(agg, "", expr = Some(e))
        }
      } else Select(Agg.Raw, name)
    }

    // ANSI FILTER clause (p119): `agg(…) filter (where <cond>)` — a
    // parse-level rewrite into the CASE machinery (`sum(x) filter (where
    // c)` ≡ `sum(case when c then x end)`), so filtered aggregates ride
    // the SAME one-pass hash aggregate, codegen, and salted two-phase
    // decomposition as everything else; different filters on different
    // aggregates in one select list cost ONE aggregation, zero extra
    // shuffles. Null semantics follow from the rewrite: rows failing (or
    // null under) the predicate contribute nothing — mean/max/min of an
    // empty filtered set are NULL; sum/count keep the engine's
    // missing-as-zero contract (the DuckDB oracle spells
    // `coalesce(sum(x) filter (where c), 0)`). max_by/min_by and the
    // two-argument dispersion family gate the ORDERING/second argument
    // (a null member skips the row on both engines); count(*) gates a
    // constant-1. Refused loudly where the rewrite cannot hold: raw
    // columns (that's WHERE), heatmap (plain-column contract),
    // count_distinct/approx (+1-nil would count the filtered-out rows'
    // NULL as a value), string_agg (values carry RAW strings, the gate
    // would numeric-view them — gate in WHERE or a derived table).
    def applyFilter(s: Select, c: ConditionTree): Select = {
      def gate(e: MeasureExpr): MeasureExpr =
        MeasureExpr.Case(Seq((c, e)), None)
      s.agg match {
        case Agg.Raw => throw ParseError(
          "filter follows an aggregate call — raw rows are filtered by WHERE")
        case Agg.Heatmap => throw ParseError(
          "heatmap buckets a plain storage column — filter rows in WHERE")
        case Agg.CountDistinct | Agg.ApproxCountDistinct => throw ParseError(
          s"${s.agg.name}'s +1-nil convention has no filtered form — " +
            "use the ANSI count(distinct …) filter (where …)")
        case Agg.StringAgg => throw ParseError(
          "string_agg carries raw string values — gate the rows in WHERE " +
            "or aggregate a derived table")
        case Agg.MaxBy | Agg.MinBy | Agg.Corr | Agg.CovarSamp |
             Agg.RegrSlope | Agg.RegrIntercept =>
          s.copy(expr2 = Some(gate(s.expr2.get)))
        case Agg.Count if s.column == "*" =>
          s.copy(column = "", expr = Some(gate(MeasureExpr.Lit(1.0))))
        case _ =>
          s.copy(column = "",
            expr = Some(gate(s.expr.getOrElse(MeasureExpr.Col(s.column)))))
      }
    }

    // Consume a trailing `filter (where <cond>)` if present — shared by
    // every aggregate-call parse site (plain select items, post-aggregate
    // arithmetic atoms, trailing-agg lists), so a filtered aggregate can
    // sit anywhere an aggregate call can.
    def maybeFilter(base: Select): Select =
      if (atIdent("filter") && toks.lift(pos + 1).contains(Sym("("))) {
        next(); expectSym("("); expectIdent("where")
        val c = orExpr()
        if (ConditionTree.columns(c).exists(n => n == "$t_start" || n == "$t_end"))
          throw ParseError("$t_start/$t_end are the scan's time range — " +
            "they cannot appear inside filter clauses")
        if (containsSubquery(c) || containsScalarSub(c))
          throw ParseError("subqueries cannot appear inside filter " +
            "clauses — filter in WHERE, or compute the threshold upstream")
        expectSym(")")
        applyFilter(base, c)
      } else base

    def selectItem(allowAlias: Boolean = true): Select = {
      val base: Select = aggCallOrRaw()
      if (atIdent("as")) {
        if (!allowAlias)
          throw ParseError("`as` aliases live in the select list — reference the alias by name here")
        next()
        val a = ident()
        if (base.agg == Agg.Raw)
          throw ParseError("`as` aliases apply to aggregate selects — raw columns keep their names")
        base.copy(alias = Some(a))
      } else if (base.expr.nonEmpty) {
        if (!allowAlias)
          throw ParseError("expression measures live in the select list — " +
            "alias one there (`as <name>`) and reference it here by name")
        throw ParseError("expression measures need `as <name>` — there is " +
          "no canonical column name for an arithmetic expression")
      } else base
    }

    // Post-aggregate expression grammar (extension): arithmetic OVER
    // aggregate calls — `100 * sum(promo) / sum(rev) as promo_pct`. Same
    // precedence/negative-literal handling as the measure grammar; leaves
    // are aggregate calls and numeric literals. Each distinct call gets a
    // parser-assigned internal alias (`__pa<n>`) — shared across the whole
    // select list, so `sum(x)` appearing in two expressions is computed
    // once.
    def internalize(e: AggExpr): AggExpr = e match {
      case AggExpr.Call(s) =>
        val a = paByShape.getOrElseUpdate((s.agg, s.column, s.expr, s.expr2),
          { val n = s"__pa$paN"; paN += 1; n })
        AggExpr.Call(s.copy(alias = Some(a)))
      case AggExpr.Bin(op, l, r) => AggExpr.Bin(op, internalize(l), internalize(r))
      case AggExpr.Neg(x)        => AggExpr.Neg(internalize(x))
      case other                 => other
    }
    def aggAtom(): AggExpr = peek match {
      case Some(Sym("(")) => next(); val e = aggSum(); expectSym(")"); e
      case Some(Sym("-")) => next(); AggExpr.Neg(aggAtom())
      case Some(Num(v)) =>
        next()
        AggExpr.Lit(v.toDoubleOption.getOrElse(
          throw ParseError(s"bad numeric literal '$v'")))
      case Some(Ident(_)) => AggExpr.Call(aggCallOrRaw())
      case other => throw ParseError(
        s"expected a select item, got ${other.getOrElse("end of input")}")
    }
    def aggTerm(): AggExpr = {
      var e = aggAtom()
      while (peek.contains(Sym("*")) || peek.contains(Sym("/")) ||
             peek.contains(Sym("%"))) {
        val Sym(op) = next(): @unchecked
        e = AggExpr.Bin(op, e, aggAtom())
      }
      e
    }
    def aggSum(): AggExpr = {
      var e = aggTerm()
      var more = true
      while (more) peek match {
        case Some(Sym("+")) => next(); e = AggExpr.Bin("+", e, aggTerm())
        case Some(Sym("-")) => next(); e = AggExpr.Bin("-", e, aggTerm())
        case Some(Num(v)) if v.startsWith("-") =>
          // `sum(x) -3`: the lexer folded the minus into the literal —
          // subtraction of the positive, opening a TERM (mirrors measureSum)
          next()
          var t: AggExpr = AggExpr.Lit(
            v.drop(1).toDoubleOption.getOrElse(
              throw ParseError(s"bad numeric literal '$v'")))
          while (peek.contains(Sym("*")) || peek.contains(Sym("/"))) {
            val Sym(op) = next(): @unchecked
            t = AggExpr.Bin(op, t, aggAtom())
          }
          e = AggExpr.Bin("-", e, t)
        case _ => more = false
      }
      e
    }
    // One select-list entry: a plain select item (raw column / aggregate,
    // optional alias) or a post-aggregate expression (alias REQUIRED).
    def selectEntry(): Either[Select, PostSelect] = aggSum() match {
      case AggExpr.Call(sel) =>
        // single call / raw column — the classic select item; replay the
        // alias handling selectItem applies
        if (atIdent("as")) {
          next()
          val a = ident()
          if (sel.agg == Agg.Raw && sel.expr.isEmpty)
            throw ParseError("`as` aliases apply to aggregate selects — raw columns keep their names")
          Left(sel.copy(alias = Some(a)))
        } else if (sel.expr.nonEmpty)
          throw ParseError("expression measures need `as <name>` — there is " +
            "no canonical column name for an arithmetic expression")
        else Left(sel)
      case e =>
        val calls = AggExpr.calls(e)
        if (calls.isEmpty)
          throw ParseError("a select expression needs at least one aggregate " +
            "call — arithmetic over bare literals has nothing to aggregate")
        // ALL leaves raw → a ROW-WISE expression projection (extension,
        // p71): `select price * (1 - discount) as net` on the raw path.
        // Compiled by the measure compiler (same arithmetic/try_divide
        // semantics as filter and aggregate measures). Alias REQUIRED.
        if (calls.forall(_.agg == Agg.Raw)) {
          // select-list arithmetic composes at the AggExpr layer, so the
          // measure grammar's string guard re-applies after conversion
          def toMeasure(x: AggExpr): MeasureExpr = x match {
            case AggExpr.Call(s) =>
              s.expr.getOrElse(MeasureExpr.Col(s.column))
            case AggExpr.Lit(v)       => MeasureExpr.Lit(v)
            case AggExpr.Bin(o, l, r) =>
              val (ml, mr) = (toMeasure(l), toMeasure(r))
              if (MeasureExpr.isString(ml) || MeasureExpr.isString(mr))
                throw ParseError("string expressions do not enter " +
                  "arithmetic — compare with = / !=, or project them directly")
              if (MeasureExpr.isTimestamp(ml) || MeasureExpr.isTimestamp(mr))
                throw ParseError("timestamp expressions do not enter " +
                  "arithmetic — extract fields (year/month/…) or datediff " +
                  "to compute")
              MeasureExpr.Bin(o, ml, mr)
            case AggExpr.Neg(x2) =>
              val m = toMeasure(x2)
              if (MeasureExpr.isString(m))
                throw ParseError("string expressions do not enter " +
                  "arithmetic — compare with = / !=, or project them directly")
              if (MeasureExpr.isTimestamp(m))
                throw ParseError("timestamp expressions do not enter " +
                  "arithmetic — extract fields (year/month/…) or datediff " +
                  "to compute")
              MeasureExpr.Neg(m)
          }
          if (!atIdent("as"))
            throw ParseError("expression projections need `as <name>` — " +
              "there is no canonical column name for row-wise arithmetic")
          next()
          return Left(Select(Agg.Raw, "", expr = Some(toMeasure(e)),
            alias = Some(ident())))
        }
        calls.find(_.agg == Agg.Raw).foreach { c =>
          val what = if (c.expr.nonEmpty) "a scalar function" else s"'${c.column}'"
          throw ParseError(
            s"$what reads raw columns — arithmetic over aggregates " +
              s"takes aggregate calls and literals only; row-wise arithmetic " +
              s"goes INSIDE the aggregate: sum(${if (c.column.isEmpty) "…" else c.column} * …)")
        }
        calls.find(_.agg == Agg.Heatmap).foreach(_ => throw ParseError(
          "heatmap(...) is not a scalar aggregate — it cannot appear in arithmetic"))
        calls.find(_.agg == Agg.StringAgg).foreach(_ => throw ParseError(
          "string_agg(...) is string-valued — it cannot appear in arithmetic"))
        calls.find(c => c.agg == Agg.BoolAnd || c.agg == Agg.BoolOr)
          .foreach(c => throw ParseError(
            s"${c.agg.name}(...) is boolean — it cannot appear in " +
              "arithmetic; count the satisfying rows with a filtered " +
              "count instead"))
        calls.find(c => (c.agg == Agg.MaxBy || c.agg == Agg.MinBy) &&
            c.expr.exists(e => MeasureExpr.isString(e) ||
              MeasureExpr.isTimestamp(e))).foreach(c => throw ParseError(
          s"${c.agg.name} carries a non-numeric value here — it cannot " +
            "appear in arithmetic"))
        if (!atIdent("as"))
          throw ParseError("post-aggregate expressions need `as <name>` — " +
            "there is no canonical column name for sum(a)/sum(b)")
        next()
        Right(PostSelect(internalize(e), ident()))
    }

    def value(): String = next() match {
      case Num(v)   => v
      case Ident(v) => v // bare-identifier values, expr.rs:12-18
      case Str(v)   => v
      case other    => throw ParseError(s"expected value, got $other")
    }

    def likeCond(c: String, negated: Boolean): Condition = {
      val pat = value()
      val inner = pat.stripPrefix("%").stripSuffix("%")
      // positional wildcards (interior % or any _) take full SQL LIKE
      // (round 14); edge-only patterns keep the tighter desugar below —
      // Contains/StartsWith/Eq push into the parquet scan directly
      if (inner.contains("%") || inner.contains("_"))
        return Condition(if (negated) Cmp.NotLike else Cmp.Like, c, pat)
      (pat.startsWith("%"), pat.endsWith("%")) match {
        case (true, _)      => Condition(if (negated) Cmp.NotContains else Cmp.Contains, c, inner)
        case (false, true)  => Condition(if (negated) Cmp.NotStartsWith else Cmp.StartsWith, c, inner)
        case (false, false) => Condition(if (negated) Cmp.Ne else Cmp.Eq, c, inner)
      }
    }

    // `col [not] regexp 'pattern'` (p125): regexp_like semantics —
    // substring match, anchor with ^$ for full-value. The pattern must
    // be a string literal in the PORTABLE regex subset: Spark runs
    // java.util.regex, DuckDB runs RE2, and they agree only without
    // lookaround ((?=…), (?!…), (?<…)) and backreferences (\1…\9) —
    // both rejected at parse so a query can never silently mean two
    // different things on the two engines.
    def regexpCond(c: String, negated: Boolean): Condition = {
      val pat = next() match {
        case Str(v) if v.nonEmpty => v
        case other => throw ParseError(
          s"regexp takes a non-empty string-literal pattern, got $other")
      }
      portableRegexGuard(pat)
      Condition(if (negated) Cmp.NotRegexp else Cmp.Regexp, c, pat)
    }

    // `col in (v, …)` desugars to OR-of-equalities, `col between a and b`
    // to Gte AND Lte — both ride the ConditionTree for free (Catalyst still
    // pushes the disjunction/range into the scan). NOT IN / NOT BETWEEN
    // negate the desugared tree (three-valued logic: a NULL column drops).
    def inTree(c: String): ConditionTree = {
      expectSym("(")
      // `col in (select …)` — relational membership, a SEMI join: the
      // subquery is a full nested dialect query (scan/filter/group/
      // having) parsed by the same machinery
      if (atIdent("select")) {
        val (sub, after) = parseTokens(toks, pos, nested = true)
        pos = after
        expectSym(")")
        ConditionTree.InSubquery(c, sub, anti = false)
      } else {
        val vs = commaList(value _)
        expectSym(")")
        val leaves = vs.map(v => ConditionTree.Leaf(Condition(Cmp.Eq, c, v)))
        if (leaves.size == 1) leaves.head else ConditionTree.Or(leaves)
      }
    }
    def betweenTree(c: String): ConditionTree = {
      val lo = value(); expectIdent("and"); val hi = value()
      ConditionTree.And(Seq(
        ConditionTree.Leaf(Condition(Cmp.Gte, c, lo)),
        ConditionTree.Leaf(Condition(Cmp.Lte, c, hi))))
    }
    // A WHERE term's LEFT side parses through the measure grammar: a bare
    // column keeps the reference's Condition semantics EXACTLY (string
    // equality, bare-identifier values, like/in/between/exists — and the
    // scan pushdown those leaves get); arithmetic on the left engages the
    // numeric expression predicate (ConditionTree.ExprLeaf), whose right
    // side is a full measure expression too — so `price * (1 - disc) >
    // 1000` and column-vs-column as `a - b > 0` are expressible. NOTE:
    // a leading '(' always opens BOOLEAN grouping (legacy precedence) —
    // write `a + b > 5`, not `(a + b) > 5`.
    def cond(): ConditionTree = measureSum() match {
      case MeasureExpr.Col(c) => condLegacy(c)
      case l =>
        val cmp = next() match {
          case Sym("=")              => Cmp.Eq
          case Sym("!=") | Sym("<>") => Cmp.Ne
          case Sym(">")              => Cmp.Gt
          case Sym("<")              => Cmp.Lt
          case Sym(">=")             => Cmp.Gte
          case Sym("<=")             => Cmp.Lte
          case other => throw ParseError("expression predicates take " +
            s"numeric comparators (= != > < >= <=), got $other")
        }
        val r = measureSum()
        // string expressions compare for EQUALITY only (p79): an order
        // comparison would ride collation, which the two engines need
        // not share
        if ((MeasureExpr.isString(l) || MeasureExpr.isString(r)) &&
            cmp != Cmp.Eq && cmp != Cmp.Ne)
          throw ParseError("string expressions compare with = / != only")
        ConditionTree.ExprLeaf(l, cmp, r)
    }
    // comparator right side: a literal/identifier value, or a SCALAR
    // subquery `(select <agg>(…) from <table> …)` resolved to a literal
    // at plan-build
    def cmpRight(c: String, cmp: Cmp): ConditionTree =
      if (peek.contains(Sym("(")) && toks.lift(pos + 1).contains(Ident("select"))) {
        if (c == "$t_start" || c == "$t_end")
          throw ParseError(s"$c takes a literal epoch value, not a subquery")
        next() // (
        val (sub, after) = parseTokens(toks, pos, nested = true)
        pos = after
        expectSym(")")
        ConditionTree.ScalarSubquery(c, cmp, sub)
      } else ConditionTree.Leaf(Condition(cmp, c, value()))

    def condLegacy(c: String): ConditionTree = {
      next() match {
        case Sym("=")             => cmpRight(c, Cmp.Eq)
        case Sym("!=") | Sym("<>") => cmpRight(c, Cmp.Ne)
        case Sym(">")             => cmpRight(c, Cmp.Gt)
        case Sym("<")             => cmpRight(c, Cmp.Lt)
        case Sym(">=")            => cmpRight(c, Cmp.Gte)
        case Sym("<=")            => cmpRight(c, Cmp.Lte)
        case Ident("like")        => ConditionTree.Leaf(likeCond(c, negated = false))
        case Ident("regexp")      => ConditionTree.Leaf(regexpCond(c, negated = false))
        case Ident("in")          => inTree(c)
        case Ident("between")     => betweenTree(c)
        case Ident("not")         => next() match {
          case Ident("like")    => ConditionTree.Leaf(likeCond(c, negated = true))
          case Ident("regexp")  => ConditionTree.Leaf(regexpCond(c, negated = true))
          case Ident("in")      => inTree(c) match {
            // `not in (select …)` is the ANTI join, not a negated predicate
            case sq: ConditionTree.InSubquery => sq.copy(anti = true)
            case t                            => ConditionTree.Not(t)
          }
          case Ident("between") => ConditionTree.Not(betweenTree(c))
          case other => throw ParseError(s"expected like/in/between after not, got $other")
        }
        case Ident("exists")      => ConditionTree.Leaf(Condition(Cmp.Exists, c))
        case Ident("notexists")   => ConditionTree.Leaf(Condition(Cmp.NotExists, c))
        // SQL-standard spelling of the presence comparators: `is null` =
        // the column is ABSENT on the row (NotExists), `is not null` =
        // present (Exists) — same Cmp leaves, so pushdown is unchanged
        case Ident("is")          => next() match {
          case Ident("null") => ConditionTree.Leaf(Condition(Cmp.NotExists, c))
          case Ident("not")  =>
            expectIdent("null")
            ConditionTree.Leaf(Condition(Cmp.Exists, c))
          case other => throw ParseError(
            s"expected null / not null after is, got $other")
        }
        case other                => throw ParseError(s"unsupported operator $other")
      }
    }

    def commaList[T](one: () => T): Seq[T] = {
      val buf = Seq.newBuilder[T]
      buf += one()
      while (peek.contains(Sym(","))) { next(); buf += one() }
      buf.result()
    }

    // Boolean WHERE grammar (extension — the reference is AND-only,
    // expr.rs:75-80/99): standard precedence NOT > AND > OR, parentheses
    // group. `not` here prefixes a term (`not (x = 1)`), distinct from the
    // infix `col not like` handled inside cond().
    def unaryExpr(): ConditionTree =
      if (atIdent("not")) { next(); ConditionTree.Not(unaryExpr()) }
      else if (peek.contains(Sym("("))) {
        next()
        val t = orExpr()
        next() match {
          case Sym(")") => t
          case other    => throw ParseError(s"expected ')', got $other")
        }
      } else cond()
    def andExpr(): ConditionTree = {
      val buf = Seq.newBuilder[ConditionTree]
      buf += unaryExpr()
      while (atIdent("and")) { next(); buf += unaryExpr() }
      val cs = buf.result()
      if (cs.size == 1) cs.head else ConditionTree.And(cs)
    }
    def orExpr(): ConditionTree = {
      val buf = Seq.newBuilder[ConditionTree]
      buf += andExpr()
      while (atIdent("or")) { next(); buf += andExpr() }
      val cs = buf.result()
      if (cs.size == 1) cs.head else ConditionTree.Or(cs)
    }

    expectIdent("select")

    // `select distinct <col, …>` (extension): dedup the raw projection —
    // the corpus-slice composition primitive (p59). `distinct` is a
    // reserved word in leading-select position, like `case` in measure
    // position; a storage column of that name stays reachable after any
    // other select item.
    var distinctRows = false
    if (atIdent("distinct")) { next(); distinctRows = true }
    // `select [distinct] *` (extension, p98): whole-row projection — the
    // first query every SQL user types. Expanded to the base frame's
    // columns at compile (runParsed/runStream), so it needs a concrete
    // base: scan/filter/distinct/order/limit/membership compose; anything
    // that reshapes columns (aggregates, joins, windows, explode) spells
    // its columns.
    var star = false

    // Sequence-analytics clauses (extension — VERDICT r9 #3: the round-9
    // operators were Scala-API only while the reference surface is
    // SQL-first, lib.rs:815-844). Detected by leading keyword; `decay` /
    // `argmax` require the '(' so a column of the same name still parses
    // as an ordinary select item.
    def atSeqOp: Boolean =
      atIdent("journeys") || atIdent("funnel") || atIdent("spans") ||
        atIdent("retention") || atIdent("attribution") || atIdent("markov") ||
        atIdent("anomaly") || atIdent("profile") || atIdent("similar") ||
        atIdent("neardup") || atIdent("knn") || atIdent("mmr") ||
        atIdent("trend") || atIdent("scenes") || atIdent("mixture") ||
        atIdent("sample") || atIdent("pack") || atIdent("chunks") ||
        atIdent("lmscore") || atIdent("curriculum") ||
        atIdent("dedup") || atIdent("decontaminate") ||
        atIdent("quality") || atIdent("redact") || atIdent("langid") ||
        ((atIdent("decay") || atIdent("argmax")) && toks.lift(pos + 1).contains(Sym("(")))
    def seqOpClause(): SeqOp = {
      val kw = ident()
      kw match {
        case "journeys" =>
          var topK = 20; var steps = 8
          if (atIdent("top")) { next(); topK = parseInt(num("top count"), "top count") }
          if (atIdent("steps")) { next(); steps = parseInt(num("steps count"), "steps count") }
          if (topK < 1 || steps < 1)
            throw ParseError(s"journeys needs top/steps ≥ 1, got $topK/$steps")
          SeqOp.Journeys(topK, steps)
        case "funnel" =>
          val steps = commaList(value _)
          if (steps.size > 16) throw ParseError("funnel takes at most 16 steps")
          SeqOp.FunnelSteps(steps)
        case "decay" =>
          expectSym("("); val c = ident(); expectSym(")")
          var last = 64
          if (atIdent("last")) { next(); last = parseInt(num("last count"), "last count") }
          if (last < 1) throw ParseError(s"decay last must be ≥ 1, got $last")
          SeqOp.Decay(c, last)
        case "argmax" =>
          expectSym("("); val v = ident(); expectSym(",")
          val idc = ident(); expectSym(")")
          SeqOp.Argmax(v, idc)
        case "spans" =>
          var topK = 40; var size = 5
          if (atIdent("top")) { next(); topK = parseInt(num("top count"), "top count") }
          if (atIdent("size")) { next(); size = parseInt(num("size tokens"), "size tokens") }
          if (topK < 1 || size < 2)
            throw ParseError(s"spans needs top ≥ 1 and size ≥ 2, got $topK/$size")
          SeqOp.Spans(topK, size)
        case "retention" => SeqOp.Retention
        case "attribution" =>
          val conv = value()
          var within = 3600L
          if (atIdent("within")) { next(); within = parseLong(num("within seconds"), "within seconds") }
          if (within < 1) throw ParseError(s"attribution within must be ≥ 1, got $within")
          SeqOp.Attribution(conv, within)
        case "markov" =>
          var iters = 20
          var distributed = false
          if (atIdent("iters")) { next(); iters = parseInt(num("iters count"), "iters count") }
          if (atIdent("distributed")) { next(); distributed = true }
          if (iters < 1 || iters > 100)
            throw ParseError(s"markov iters must be in [1,100], got $iters")
          SeqOp.Markov(iters, distributed)
        case "anomaly" =>
          expectIdent("split"); val split = value()
          var factor = 2L; var support = 30L
          if (atIdent("factor")) { next(); factor = parseLong(num("factor"), "factor") }
          if (atIdent("support")) { next(); support = parseLong(num("support"), "support") }
          if (factor < 1 || support < 1)
            throw ParseError(s"anomaly needs factor/support ≥ 1, got $factor/$support")
          SeqOp.AnomalySplit(split, factor, support)
        case "profile" =>
          val cols = commaList(ident _)
          if (cols.isEmpty) throw ParseError("profile needs at least one column")
          SeqOp.ProfileCols(cols)
        case "similar" =>
          var topK = 50; var minDf = 2L; var maxDf = 100L
          var maxDfSet = false
          var maxDfPct: Option[Int] = None
          if (atIdent("top")) { next(); topK = parseInt(num("top count"), "top count") }
          if (atIdent("mindf")) { next(); minDf = parseLong(num("mindf"), "mindf") }
          if (atIdent("maxdf")) { next(); maxDf = parseLong(num("maxdf"), "maxdf"); maxDfSet = true }
          if (atIdent("maxdfpct")) {
            next(); maxDfPct = Some(parseInt(num("maxdfpct"), "maxdfpct"))
          }
          // the engine takes ONE df cap: silently preferring the fractional
          // one (and skipping mindf<=maxdf validation) would make the other
          // a no-op the user believes is active
          if (maxDfSet && maxDfPct.isDefined)
            throw ParseError("similar: maxdf and maxdfpct are mutually exclusive " +
              "— give the absolute or the fractional df cap, not both")
          if (topK < 1 || minDf < 2 || (maxDfPct.isEmpty && minDf > maxDf))
            throw ParseError(s"similar needs top ≥ 1 and 2 ≤ mindf ≤ maxdf, got $topK/$minDf/$maxDf")
          if (maxDfPct.exists(p => p < 1 || p > 100))
            throw ParseError(s"similar maxdfpct must be in [1,100], got ${maxDfPct.get}")
          SeqOp.Similar(topK, minDf, maxDf, maxDfPct)
        case "neardup" =>
          if (atIdent("embeddings")) {
            next()
            var pct = 42
            if (atIdent("threshold")) {
              next(); pct = parseInt(num("threshold pct"), "threshold pct")
            }
            if (pct < 1 || pct > 100)
              throw ParseError(s"neardup embeddings threshold must be in [1,100], got $pct")
            SeqOp.NearDupEmbeddings(pct)
          } else if (atIdent("images") || atIdent("audio")) {
            val modality = ident()
            var mh = if (modality == "images") 8 else 16
            if (atIdent("hamming")) { next(); mh = parseInt(num("hamming bits"), "hamming bits") }
            if (mh < 0 || mh > 64)
              throw ParseError(s"neardup $modality hamming must be in [0,64], got $mh")
            if (modality == "images") SeqOp.NearDupImages(mh)
            else SeqOp.NearDupAudio(mh)
          } else if (atIdent("video")) {
            next()
            var shared = 2
            if (atIdent("shared")) { next(); shared = parseInt(num("shared frames"), "shared frames") }
            if (shared < 1)
              throw ParseError(s"neardup video shared must be ≥ 1, got $shared")
            SeqOp.NearDupVideo(shared)
          } else {
            var pct = 50
            if (atIdent("threshold")) { next(); pct = parseInt(num("threshold pct"), "threshold pct") }
            if (pct < 1 || pct > 100)
              throw ParseError(s"neardup threshold must be in [1,100], got $pct")
            SeqOp.NearDup(pct)
          }
        case "knn" =>
          // `knn using <index>` probes a PREBUILT catalog-resolved IVF
          // index (read-only — the build half stays an API/lifecycle op);
          // without `using`, the exact brute-force scan
          var index: Option[String] = None
          var centTable: Option[String] = None
          if (atIdent("using")) { next(); index = Some(ident()) }
          if (atIdent("centroids")) {
            if (index.isEmpty)
              throw ParseError("centroids names a `knn using <index>`'s " +
                "trained-centroid table — brute-force knn has no index")
            next(); centTable = Some(ident())
          }
          // `books <table>` / `shortlist <n>`: the IVF-PQ probe's extra
          // resolution (codebooks) and ADC-rescue width — only meaningful
          // against a `using` index whose rows carry codes (checked at
          // compile, where the frame's schema is known)
          var booksTable: Option[String] = None
          if (atIdent("books")) {
            if (index.isEmpty)
              throw ParseError("books names a `knn using <index>`'s PQ " +
                "codebook table — brute-force knn has no index")
            next(); booksTable = Some(ident())
          }
          var topK = 10; var qid = 0L
          if (atIdent("top")) { next(); topK = parseInt(num("top count"), "top count") }
          if (atIdent("query")) { next(); qid = parseLong(num("query id"), "query id") }
          var nProbe = 2
          var probeSet = false
          if (atIdent("probe")) {
            next(); nProbe = parseInt(num("probe cells"), "probe cells")
            probeSet = true
          }
          var shortlist: Option[Int] = None
          if (atIdent("shortlist")) {
            if (index.isEmpty)
              throw ParseError("shortlist sizes a PQ index probe's ADC " +
                "rescue — brute-force knn is already exact")
            next()
            shortlist = Some(parseInt(num("shortlist size"), "shortlist size"))
          }
          if (topK < 1) throw ParseError(s"knn top must be ≥ 1, got $topK")
          shortlist.filter(_ < topK).foreach(sl => throw ParseError(
            s"knn needs shortlist ≥ top, got $sl/$topK"))
          if (index.isEmpty && probeSet)
            throw ParseError("probe widens a `knn using <index>` scan — " +
              "brute-force knn always scans everything")
          if (nProbe < 1) throw ParseError(s"knn probe must be ≥ 1, got $nProbe")
          index match {
            case Some(ix) => SeqOp.KnnIndex(ix, centTable, topK, qid, nProbe,
              booksTable, shortlist)
            case None     => SeqOp.Knn(topK, qid)
          }
        case "mmr" =>
          // `mmr using <index>` builds the shortlist from a PREBUILT
          // catalog-resolved IVF index (read-only, like `knn using`)
          var index: Option[String] = None
          var centTable: Option[String] = None
          if (atIdent("using")) { next(); index = Some(ident()) }
          if (atIdent("centroids")) {
            if (index.isEmpty)
              throw ParseError("centroids names a `mmr using <index>`'s " +
                "trained-centroid table — brute-force mmr has no index")
            next(); centTable = Some(ident())
          }
          var topK = 10; var qid = 0L; var shortlist = 50
          var qids = Seq.empty[Long]
          if (atIdent("top")) { next(); topK = parseInt(num("top count"), "top count") }
          if (atIdent("query")) { next(); qid = parseLong(num("query id"), "query id") }
          else if (atIdent("queries")) {
            next(); qids = commaList(() => parseLong(num("query id"), "query id"))
          }
          if (atIdent("shortlist")) { next(); shortlist = parseInt(num("shortlist size"), "shortlist size") }
          var nProbe = 2
          var probeSet = false
          if (atIdent("probe")) {
            next(); nProbe = parseInt(num("probe cells"), "probe cells")
            probeSet = true
          }
          if (topK < 1 || shortlist < topK)
            throw ParseError(s"mmr needs 1 ≤ top ≤ shortlist, got $topK/$shortlist")
          if (index.isEmpty && probeSet)
            throw ParseError("probe widens a `mmr using <index>` scan — " +
              "brute-force mmr always scans everything")
          if (nProbe < 1) throw ParseError(s"mmr probe must be ≥ 1, got $nProbe")
          if (index.nonEmpty && qids.nonEmpty)
            throw ParseError("mmr using <index> takes a single `query <id>` " +
              "— batch the probes per statement")
          index match {
            case Some(ix) => SeqOp.MmrIndex(ix, centTable, topK, qid,
              shortlist, nProbe)
            case None if qids.nonEmpty =>
              if (qids.distinct.size != qids.size)
                throw ParseError("mmr queries must be distinct ids")
              SeqOp.MmrBatch(topK, qids, shortlist)
            case None => SeqOp.Mmr(topK, qid, shortlist)
          }
        case "trend" =>
          var c = "value"
          if (toks.lift(pos).contains(Sym("("))) { next(); c = ident(); expectSym(")") }
          SeqOp.Trend(c)
        case "scenes" => SeqOp.Scenes
        case "mixture" =>
          // `mixture [score <col> [scale <n>]] src1=800, src2=500, …` —
          // per-source token budgets, hash-ordered or best-first
          var score: Option[(String, Long)] = None
          // lookahead: `score <col>` is the clause; `score=<n>` is a
          // SOURCE literally named score (the rollup-keyword pattern)
          if (atIdent("score") && toks.lift(pos + 1).exists(_.isInstanceOf[Ident])) {
            next()
            val c = ident()
            var scale = 1L
            if (atIdent("scale")) {
              next(); scale = parseLong(num("score scale"), "score scale")
            }
            if (scale < 1)
              throw ParseError(s"mixture score scale must be ≥ 1, got $scale")
            score = Some((c, scale))
          }
          val pairs = commaList { () =>
            val src = next() match {
              case Ident(v) => v
              case Str(v)   => v
              case other => throw ParseError(s"expected a source name, got $other")
            }
            expectSym("=")
            val b = parseLong(num("token budget"), "token budget")
            if (b < 1) throw ParseError(s"mixture budget for '$src' must be positive, got $b")
            (src, b)
          }
          val dup = pairs.groupBy(_._1).collectFirst { case (s, ps) if ps.size > 1 => s }
          dup.foreach(s => throw ParseError(s"duplicate mixture source '$s'"))
          SeqOp.Mixture(pairs, score)
        case "sample" =>
          // `sample pct <n> [by src=<pct>, …]` — deterministic hash /
          // stratified sampling; `sample weight <col> [scale <n>]` —
          // acceptance probability col/scale, clamped to [0,1]
          def sampleKey(): String =
            if (atIdent("key")) { next(); ident() } else "doc_id"
          if (atIdent("exact")) {
            // `sample exact <n> [key <col>] [per <col>]` — exact-count
            // deterministic cut (the n smallest hash coins; nested across
            // sizes); `per <col>` = exactly n from EVERY group (p88 — the
            // stratified split, WindowGroupLimit-compiled, no driver bound)
            next()
            val n = parseLong(num("exact sample count"), "exact sample count")
            if (n < 1 || n > Int.MaxValue)
              throw ParseError(s"sample exact must be in [1, ${Int.MaxValue}], got $n")
            val key = sampleKey()
            val per = if (atIdent("per")) { next(); Some(ident()) } else None
            if (per.isEmpty && n > (1L << 22))
              throw ParseError(s"sample exact must be in [1, ${1 << 22}], " +
                s"got $n — the GLOBAL cut is driver-merged; `per <col>` " +
                "is unbounded (per-partition WindowGroupLimit), and " +
                "pct/weight are the unbounded rates")
            SeqOp.SampleExact(n.toInt, key, per)
          } else if (atIdent("weight")) {
            next()
            val c = ident()
            var scale = 1L
            if (atIdent("scale")) {
              next(); scale = parseLong(num("weight scale"), "weight scale")
            }
            if (scale < 1)
              throw ParseError(s"sample weight scale must be ≥ 1, got $scale")
            SeqOp.SampleWeight(c, scale, sampleKey())
          } else if (atIdent("pct")) {
            next()
            val pct = parseInt(num("sample pct"), "sample pct")
            if (pct < 0 || pct > 100)
              throw ParseError(s"sample pct must be in [0,100], got $pct")
            var strata = Seq.empty[(String, Int)]
            if (atIdent("by")) {
              next()
              strata = commaList { () =>
                val src = next() match {
                  case Ident(v) => v
                  case Str(v)   => v
                  case other => throw ParseError(s"expected a source name, got $other")
                }
                expectSym("=")
                val p = parseInt(num("stratum pct"), "stratum pct")
                if (p < 0 || p > 100)
                  throw ParseError(s"sample pct for '$src' must be in [0,100], got $p")
                (src, p)
              }
              val dup = strata.groupBy(_._1).collectFirst { case (s, ps) if ps.size > 1 => s }
              dup.foreach(s => throw ParseError(s"duplicate sample stratum '$s'"))
            }
            SeqOp.SampleRows(pct, strata, sampleKey())
          } else throw ParseError(
            "sample takes `exact <n>`, `pct <n> [by src=<pct>, …]`, or " +
              "`weight <col> [scale <n>]`, each with an optional trailing " +
              "`key <col>`")
        case "pack" =>
          // `pack budget <n>` — contiguous ~n-token training chunks
          if (!atIdent("budget")) throw ParseError("pack takes `budget <tokens>`")
          next()
          val b = parseLong(num("pack budget"), "pack budget")
          if (b < 1) throw ParseError(s"pack budget must be ≥ 1, got $b")
          SeqOp.Pack(b)
        case "chunks" =>
          // `chunks [size <n>] [stride <m>]` — context windows. ONE default
          // rule: stride = size (non-overlapping) unless `stride` is spelled
          // — overlap is always an explicit choice, so adding `size` to a
          // bare `chunks` can never silently change overlap semantics
          // (ADVICE r12: the old bare default was overlapping 32/8 while
          // `size N` flipped to non-overlapping).
          var size = 32; var stride = 32
          if (atIdent("size")) {
            next(); size = parseInt(num("chunk size"), "chunk size")
            stride = size
          }
          if (atIdent("stride")) {
            next(); stride = parseInt(num("chunk stride"), "chunk stride")
          }
          if (size < 1 || stride < 1 || stride > size)
            throw ParseError(
              s"chunks needs 1 ≤ stride ≤ size, got size=$size stride=$stride")
          SeqOp.Chunks(size, stride)
        case "lmscore" =>
          // `lmscore [ref <col> = <value>] [vocab <n>] [table <n>]` —
          // bigram-LM fluency scoring; tables train on the ref slice of
          // the gated frame (the whole gated frame when no ref)
          var ref: Option[(String, String)] = None
          var vocab = 300; var table = 500
          var train: Option[String] = None
          if (atIdent("train")) { next(); train = Some(ident()) }
          if (atIdent("ref")) {
            next(); val c = ident(); expectSym("="); ref = Some((c, value()))
          }
          if (atIdent("vocab")) {
            next(); vocab = parseInt(num("vocab size"), "vocab size")
          }
          if (atIdent("table")) {
            next(); table = parseInt(num("table size"), "table size")
          }
          if (vocab < 1 || vocab > 100000 || table < 1 || table > 100000)
            throw ParseError(
              s"lmscore vocab/table must be in [1,100000], got $vocab/$table")
          SeqOp.LmScore(ref, vocab, table, train)
        case "curriculum" =>
          // `curriculum score <col> [scale <n>] [shards <n>]` — exact
          // global quality ranks cut into ordered shards
          if (!atIdent("score"))
            throw ParseError("curriculum takes `score <col> [scale <n>] [shards <n>]`")
          next()
          val c = ident()
          var scale = 1L; var shards = 8
          if (atIdent("scale")) {
            next(); scale = parseLong(num("score scale"), "score scale")
          }
          if (atIdent("shards")) {
            next(); shards = parseInt(num("shard count"), "shard count")
          }
          if (scale < 1) throw ParseError(s"curriculum scale must be ≥ 1, got $scale")
          if (shards < 1 || shards > 1000000)
            throw ParseError(s"curriculum shards must be in [1,1e6], got $shards")
          SeqOp.Curriculum(c, scale, shards)
        case "dedup" =>
          if (atIdent("normalized")) { next(); SeqOp.DedupNormalized }
          else SeqOp.DedupExact
        case "decontaminate" =>
          // `decontaminate <src>[, <src> …] [shingle <n>] [hits <n>]`
          val srcs = commaList { () =>
            next() match {
              case Ident(v) => v
              case Str(v)   => v
              case other => throw ParseError(s"expected a source name, got $other")
            }
          }
          if (srcs.distinct.size != srcs.size)
            throw ParseError("duplicate decontaminate source")
          var shingleN = 5; var hits = 1
          if (atIdent("shingle")) {
            next(); shingleN = parseInt(num("shingle length"), "shingle length")
          }
          if (atIdent("hits")) {
            next(); hits = parseInt(num("hit threshold"), "hit threshold")
          }
          if (shingleN < 2 || shingleN > 16)
            throw ParseError(s"decontaminate shingle must be in [2,16], got $shingleN")
          if (hits < 1)
            throw ParseError(s"decontaminate hits must be ≥ 1, got $hits")
          SeqOp.Decontaminate(srcs, shingleN, hits)
        case "quality" => SeqOp.Quality
        case "langid" => SeqOp.LangId
        case "redact" =>
          // `redact <term>[, <term> …]` — \b-wrapped LITERAL words, so
          // the terms must be word-charset-only (a regex metachar would
          // change the pattern's meaning silently)
          val terms = commaList { () =>
            next() match {
              case Ident(v) => v
              case Str(v)   => v
              case other => throw ParseError(s"expected a term, got $other")
            }
          }
          if (terms.distinct.size != terms.size)
            throw ParseError("duplicate redact term")
          terms.find(!_.matches("[A-Za-z0-9_]+")).foreach(t =>
            throw ParseError(s"redact term '$t' must be letters/digits/_ " +
              "only (terms are \\b-wrapped literal words)"))
          SeqOp.Redact(terms)
        case other => throw ParseError(s"not a sequence op: $other")
      }
    }
    def num(what: String): String = next() match {
      case Num(v) => v
      case other  => throw ParseError(s"expected $what, got $other")
    }

    val seqOp: Option[SeqOp] = if (atSeqOp) Some(seqOpClause()) else None
    // Analytic window items (extension, p68): intercepted at the head of
    // each select-list entry — the five names are not aggregates, so the
    // grammar stays conflict-free. `partition by` is REQUIRED (an
    // unpartitioned window is a one-partition global sort; exact global
    // ranks are the curriculum operator's job) and so is `order by`
    // (every supported function is order-sensitive).
    val winFuncNames = Set("row_number", "rank", "dense_rank", "lag", "lead",
      // relative-position ranks (p89): percent_rank = (rank-1)/(n-1),
      // cume_dist = rank-from-behind/n — identical definitions on both
      // engines; order-sensitive, so `order by` stays required
      "percent_rank", "cume_dist",
      // nth_value(col, n) (p114): the partition's n-th row in ORDER BY
      // order, over the FULL frame (like last_value — the default
      // running frame would null it until the n-th row arrives; oracles
      // spell ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      "nth_value")
    // AGGREGATE window functions (p74) + navigation/bucketing (p75).
    // These share names with grouped aggregates, so the dispatch below
    // looks PAST the matching ')' for `over` before routing here.
    val aggWinNames = Set("sum", "mean", "min", "max", "count")
    val navWinNames = Set("first_value", "last_value", "ntile")
    val winBuf = Seq.newBuilder[WinSelect]
    val outOrderBuf = Seq.newBuilder[String]
    def winSelect(): WinSelect = {
      val f = ident(); expectSym("(")
      var arg: Option[String] = None; var off = 1
      if (f == "lag" || f == "lead") {
        arg = Some(ident())
        if (peek.contains(Sym(","))) {
          next(); off = parseInt(num("offset"), "offset")
          if (off < 1) throw ParseError(s"$f offset must be ≥ 1, got $off")
        }
      } else if (f == "ntile") {
        off = parseInt(num("ntile buckets"), "ntile buckets")
        if (off < 1) throw ParseError(s"ntile needs ≥ 1 buckets, got $off")
      } else if (f == "nth_value") {
        arg = Some(ident()); expectSym(",")
        off = parseInt(num("nth_value position"), "nth_value position")
        if (off < 1) throw ParseError(s"nth_value position is 1-based (≥ 1), got $off")
      } else if (aggWinNames(f) || f == "first_value" || f == "last_value") {
        // count(*) counts the frame's rows; everything else takes a column
        if (f == "count" && peek.contains(Sym("*"))) { next(); arg = Some("*") }
        else arg = Some(ident())
      } else if (!peek.contains(Sym(")")))
        throw ParseError(s"$f() takes no arguments")
      expectSym(")")
      expectIdent("over"); expectSym("(")
      var parts = Seq.empty[String]
      if (atIdent("partition")) { next(); expectIdent("by"); parts = commaList(ident _) }
      if (parts.isEmpty)
        throw ParseError(s"$f over (…) needs `partition by` — an " +
          "unpartitioned window moves every row to ONE partition for a " +
          "global sort; for exact global ranks use `curriculum` " +
          "(histogram-partitioned, no global sort)")
      // ORDER BY is required wherever the result is order-SENSITIVE. An
      // aggregate window without it is the whole-partition total (SQL
      // semantics, deterministic); WITH it, the RUNNING form (SQL default
      // RANGE frame — ties are peers, so even a non-total order stays
      // deterministic).
      if (!atIdent("order") && !aggWinNames(f))
        throw ParseError(s"$f over (…) needs `order by` — an unordered " +
          "rank/offset is partitioning luck (add a unique tiebreak " +
          "column for a total order)")
      val obs =
        if (!atIdent("order")) Seq.empty[(String, SortDir)]
        else {
          next(); expectIdent("by")
          commaList { () =>
            val c = ident()
            val d =
              if (atIdent("desc")) { next(); SortDir.Desc }
              else { if (atIdent("asc")) next(); SortDir.Asc }
            (c, d)
          }
        }
      // `rows <n> preceding` (p87): the MOVING frame — ROWS BETWEEN n
      // PRECEDING AND CURRENT ROW. Aggregate windows with ORDER BY only;
      // the standard-SQL caveat (tie-order dependence under a non-total
      // ORDER BY) applies on both engines — spell a unique tiebreak.
      var rowsPrec: Option[Int] = None
      var rowsFoll: Option[Int] = None
      if (atIdent("rows")) {
        next()
        def frameGuards(): Unit = {
          if (!aggWinNames(f))
            throw ParseError(s"rows frames apply to aggregate windows " +
              s"(${aggWinNames.toSeq.sorted.mkString("/")}), not $f")
          if (obs.isEmpty)
            throw ParseError("a rows frame needs `order by` — an unordered " +
              "moving window has no notion of 'preceding'")
        }
        if (atIdent("between")) {
          // `rows between <m> preceding and <n> following` (p115): the
          // TWO-SIDED frame — the centered smoother
          next()
          val m = parseInt(num("frame preceding"), "frame preceding")
          expectIdent("preceding"); expectIdent("and")
          val n2 = parseInt(num("frame following"), "frame following")
          expectIdent("following")
          frameGuards()
          if (m < 0 || n2 < 0)
            throw ParseError(s"frame bounds must be ≥ 0, got $m/$n2")
          rowsPrec = Some(m); rowsFoll = Some(n2)
        } else {
          val n = parseInt(num("rows frame size"), "rows frame size")
          expectIdent("preceding")
          frameGuards()
          if (n < 1) throw ParseError(s"rows frame size must be ≥ 1, got $n")
          rowsPrec = Some(n)
        }
      }
      expectSym(")")
      if (!atIdent("as"))
        throw ParseError("window selects need `as <name>` — the " +
          "rank/offset column has no canonical name")
      next()
      WinSelect(f, arg, off, parts, obs, ident(), rowsPreceding = rowsPrec,
        rowsFollowing = rowsFoll)
    }
    // true iff the call starting at `p` (Ident + "(") has `over` after its
    // matching ")" — distinguishes `sum(x) over (…)` from the aggregate
    def isWindowCall(p: Int): Boolean = {
      var i = p + 2; var depth = 1
      while (i < toks.length && depth > 0) {
        toks(i) match {
          case Sym("(") => depth += 1
          case Sym(")") => depth -= 1
          case _        =>
        }
        i += 1
      }
      depth == 0 && toks.lift(i).contains(Ident("over"))
    }
    var explodeSpec: Option[(String, String, String)] = None
    val entries: Seq[Either[Select, PostSelect]] =
      if (seqOp.isDefined) Nil
      else if (peek.contains(Sym("*"))) { next(); star = true; Nil }
      else commaList[Seq[Either[Select, PostSelect]]] { () =>
        (peek match {
          case Some(Ident("pivot")) =>
            // conditional-aggregation pivot (p123):
            //   pivot <agg>(<measure>) by <col> in ('v' [as name], …)
            // Each IN value desugars to `agg(…) filter (where col =
            // 'v') as <name>` — a K-column pivot is K gated aggregates
            // in ONE hash aggregate: no pivot physical operator, no
            // second pass, map-side partials intact; the SAME plan
            // conditional aggregation would hand-write, at any scale.
            // The value list is explicit and literal (like SQL PIVOT
            // IN): dynamic pivot would make the output schema
            // data-dependent — two passes by definition, and a 100 TB
            // anti-pattern. A value that is not a valid column name
            // takes `as`; a pre-gated aggregate composes (the gates
            // nest).
            next()
            val b = aggCallOrRaw()
            if (b.agg == Agg.Raw)
              throw ParseError("pivot takes an aggregate call — " +
                "`pivot sum(x) by <col> in (…)`")
            expectIdent("by")
            val pcol = ident()
            expectIdent("in")
            expectSym("(")
            val items = commaList { () =>
              val v = next() match {
                case Str(s) => s
                case Num(s) => s
                case other  => throw ParseError(
                  s"pivot values are literals, got $other")
              }
              val alias =
                if (atIdent("as")) { next(); ident() }
                else {
                  val id = v.toLowerCase
                  if (!id.matches("[a-z_][a-z0-9_]*"))
                    throw ParseError(s"pivot value '$v' is not a valid " +
                      "column name — give it `as <name>`")
                  id
                }
              (v, alias)
            }
            expectSym(")")
            if (items.map(_._2).distinct.size != items.size)
              throw ParseError("pivot output columns collide — rename with `as`")
            items.map { case (v, a) =>
              if (a.startsWith("__"))
                throw ParseError(s"alias '$a' uses the engine-internal prefix __")
              outOrderBuf += a
              Left(applyFilter(b, ConditionTree.Leaf(
                Condition(Cmp.Eq, pcol, v))).copy(alias = Some(a)))
                : Either[Select, PostSelect]
            }
          case Some(Ident("explode")) if toks.lift(pos + 1).contains(Sym("(")) =>
            // generator select item (p85): explode(col, '<sep>') as name —
            // one per query; surfaces as a plain Raw column downstream
            next(); next()
            val src = ident()
            expectSym(",")
            val sep = peek match {
              case Some(Str(v)) if v.nonEmpty => next(); v
              case _ => throw ParseError(
                "explode(col, '<sep>') takes a non-empty literal separator")
            }
            expectSym(")")
            if (!atIdent("as"))
              throw ParseError("explode(col, '<sep>') needs `as <name>` — " +
                "the element column has no canonical name")
            next(); val alias = ident()
            if (alias.startsWith("__"))
              throw ParseError(s"alias '$alias' uses the engine-internal prefix __")
            if (explodeSpec.nonEmpty)
              throw ParseError("one explode(…) per query — nest a derived " +
                "table for multi-level unnesting")
            explodeSpec = Some((src, sep, alias))
            outOrderBuf += alias
            Seq(Left(Select(Agg.Raw, alias))): Seq[Either[Select, PostSelect]]
          case Some(Ident(f)) if toks.lift(pos + 1).contains(Sym("(")) &&
              (winFuncNames(f) ||
                ((aggWinNames(f) || navWinNames(f)) && isWindowCall(pos))) =>
            val w = winSelect(); winBuf += w; outOrderBuf += w.alias
            Seq.empty
          case _ =>
            val e = selectEntry()
            outOrderBuf += (e match {
              case Left(s) => s.key; case Right(p) => p.alias })
            Seq(e)
        }): Seq[Either[Select, PostSelect]]
      }.flatten
    val winSelects = winBuf.result()
    // the select list's output names in written order — the window
    // projection's order AND the referent of ORDER BY ordinals
    val outOrder = outOrderBuf.result()
    val winOutOrder = if (winSelects.isEmpty) Nil else outOrder
    val selects = entries.collect { case Left(s) => s }
    val postSelects = entries.collect { case Right(p) => p }
    // output-name discipline: post aliases must not shadow a select item's
    // output column or repeat (colRef would silently bind one of the two)
    locally {
      val keys0 = selects.map(_.key)
      postSelects.map(_.alias).foreach { a =>
        if (a.startsWith("__"))
          throw ParseError(s"alias '$a' uses the engine-internal prefix __")
        if (keys0.contains(a) || postSelects.count(_.alias == a) > 1)
          throw ParseError(s"duplicate output column '$a'")
      }
    }
    if (postSelects.nonEmpty && selects.exists(_.agg == Agg.Raw))
      throw ParseError("bare columns do not mix with post-aggregate " +
        "expressions — dimensions surface via group by")
    // row-wise expression projections (p71) live on the RAW path only:
    // with aggregates present, row arithmetic goes INSIDE the aggregate
    // (sum(a * b)); as a computed group key, in a derived table
    locally {
      val exprSels = selects.filter(s => s.agg == Agg.Raw && s.expr.nonEmpty)
      if (exprSels.nonEmpty) {
        if (selects.exists(_.agg != Agg.Raw))
          throw ParseError("expression projections do not mix with " +
            "aggregates — put the arithmetic INSIDE the aggregate " +
            "(sum(a * b) as x), or compute the column in a derived table")
        exprSels.map(_.key).foreach { a =>
          if (a.startsWith("__"))
            throw ParseError(s"alias '$a' uses the engine-internal prefix __")
          if (selects.count(_.key == a) > 1)
            throw ParseError(s"duplicate output column '$a'")
        }
      }
    }
    // tolerated + ignored by run(df, …) like expr.rs (never reads FROM);
    // recorded so runCatalog can resolve the base frame from it.
    // `from (select …)` is a DERIVED TABLE: the outer query scans the
    // inner query's result — parsed by the same resumable machinery as
    // membership subqueries, arbitrary nesting included.
    var fromName: Option[String] = None
    var fromSub: Option[ZxQuery] = None
    if (atIdent("from")) {
      next()
      if (peek.contains(Sym("(")) && toks.lift(pos + 1).contains(Ident("select"))) {
        next() // (
        val (sub, after) = parseTokens(toks, pos, nested = true)
        pos = after
        expectSym(")")
        fromSub = Some(sub)
      } else fromName = Some(ident())
    }

    // asof / trailing join clauses (extension — surfaces AsofJoin in SQL):
    //   asof join <table> on <keyL> = <keyR> at <timeL> >= <timeR>
    //     carry <rightCol, …>
    //   trailing join <table> on <keyL> = <keyR> at <timeL> >= <timeR>
    //     within <seconds> agg <agg(rightCol), …>
    var joinSpec: Option[JoinSpec] = None
    if (atIdent("asof") || atIdent("trailing")) {
      val trailing = atIdent("trailing")
      next(); expectIdent("join")
      val table = ident()
      expectIdent("on"); val kl = ident(); expectSym("="); val kr = ident()
      // composite keys (p61): `on a = ra and b = rb …` — `at` terminates
      // the pair list, so the keyword is unambiguous
      var moreKeys = Seq.empty[(String, String)]
      while (atIdent("and")) {
        next(); val al = ident(); expectSym("="); val ar = ident()
        moreKeys :+= ((al, ar))
      }
      expectIdent("at"); val tl = ident(); expectSym(">="); val tr = ident()
      joinSpec = Some(
        if (!trailing) {
          expectIdent("carry")
          JoinSpec(table, kl, kr, tl, tr, payload = commaList(ident _),
            moreKeys = moreKeys)
        } else {
          expectIdent("within")
          val w = next() match {
            case Num(v) => parseLong(v, "trailing window seconds")
            case other  => throw ParseError(s"expected window seconds, got $other")
          }
          expectIdent("agg")
          val aggs = commaList(() => selectItem())
          aggs.find(s => s.agg == Agg.Raw || s.agg == Agg.Heatmap ||
              s.agg == Agg.CountDistinct || s.agg == Agg.P50).foreach(s =>
            throw ParseError(s"trailing agg must be sum/count/min/max/mean over a right column, got ${s.agg.name}"))
          aggs.find(_.expr.nonEmpty).foreach(_ =>
            throw ParseError("trailing agg aggregates a right-table column, " +
              "not an expression — compute it into the right table upstream"))
          JoinSpec(table, kl, kr, tl, tr, trailingSec = Some(w), aggs = aggs,
            moreKeys = moreKeys)
        })
      joinSpec.filter(_ => selects.exists(_.agg != Agg.Raw) || postSelects.nonEmpty).foreach(_ =>
        throw ParseError("join queries select bare left columns only (aggregates go in the `agg` clause)"))
      joinSpec.filterNot(js => (js.keyL +: js.moreKeys.map(_._1)).forall(k =>
          selects.exists(_.column == k)) &&
          selects.exists(_.column == js.timeL)).foreach(js =>
        throw ParseError("join queries must select every join key (" +
          (js.keyL +: js.moreKeys.map(_._1)).mkString(", ") +
          s") and time '${js.timeL}'"))
    }

    // plain equi-join clauses (extension — the fact-join-dim roll-up):
    //   [left|right|full] join <table> on <keyL> = <keyR>  (repeatable,
    // chains). right/full (p62) are the reconciliation shapes — unmatched
    // sides surface as `__nil` group keys through the standard rendering.
    var equiJoins = Seq.empty[EquiJoin]
    // semi/anti joins (extension, p72): EXISTS/NOT EXISTS as row FILTERS
    // — parsed alongside the join clauses, applied BEFORE everything else
    // (they generalize membership subqueries to composite keys), so they
    // compose with aggregates, windows, distinct, and sequence ops
    var filterJoins = Seq.empty[FilterJoin]
    def atOuterKw: Boolean =
      (atIdent("left") || atIdent("right") || atIdent("full")) &&
        toks.lift(pos + 1).contains(Ident("join"))
    def atFilterKw: Boolean =
      (atIdent("semi") || atIdent("anti")) &&
        toks.lift(pos + 1).contains(Ident("join"))
    while (atIdent("join") || atOuterKw || atFilterKw) {
      if (atFilterKw) {
        val anti = atIdent("anti")
        next(); next() // semi|anti, join
        val sub: Option[ZxQuery] =
          if (peek.contains(Sym("(")) && toks.lift(pos + 1).contains(Ident("select"))) {
            next() // (
            val (z, after) = parseTokens(toks, pos, nested = true)
            pos = after
            expectSym(")")
            Some(z)
          } else None
        val table = if (sub.isEmpty) ident() else ""
        expectIdent("on")
        var pairs = Seq.empty[(String, String)]
        val kl0 = ident(); expectSym("="); val kr0 = ident()
        pairs :+= ((kl0, kr0))
        while (atIdent("and")) {
          next(); val al = ident(); expectSym("="); val ar = ident()
          pairs :+= ((al, ar))
        }
        filterJoins :+= FilterJoin(table, anti, pairs, sub)
      } else {
      val joinType =
        if (atIdent("left")) { next(); "left_outer" }
        else if (atIdent("right")) { next(); "right_outer" }
        else if (atIdent("full")) { next(); "full_outer" }
        else "inner"
      next() // join
      // `join (select …)` — derived aggregate right side (the
      // correlated-threshold shape); otherwise a catalog table name
      val sub: Option[ZxQuery] =
        if (peek.contains(Sym("(")) && toks.lift(pos + 1).contains(Ident("select"))) {
          next() // (
          val (z, after) = parseTokens(toks, pos, nested = true)
          pos = after
          expectSym(")")
          Some(z)
        } else None
      val table = if (sub.isEmpty) ident() else ""
      expectIdent("on"); val kl = ident(); expectSym("="); val kr = ident()
      // composite keys: `on a = ra and b = rb …` — nothing else can
      // follow a join's ON pair with `and`, so the keyword is unambiguous
      var more = Seq.empty[(String, String)]
      while (atIdent("and")) {
        next(); val al = ident(); expectSym("="); val ar = ident()
        more :+= ((al, ar))
      }
      if (sub.nonEmpty && more.nonEmpty)
        throw ParseError("a derived join side aggregates by exactly one key" +
          " — composite ON clauses join catalog tables")
      if (sub.nonEmpty && joinType != "inner" && joinType != "left_outer")
        throw ParseError("a derived join side carries per-key thresholds — " +
          "right/full outer against it has no threshold to carry; join the " +
          "catalog table instead")
      equiJoins :+= EquiJoin(table, kl, kr, joinType, sub = sub,
        moreKeys = more)
      }
    }

    // WHERE parses as a full tree; a pure top-level conjunction of leaves
    // lands in `conditions` (the reference-shaped IR every compiler path
    // already handles), anything with OR/NOT stays a tree in `where`.
    var conds = Seq.empty[Condition]
    var whereTree: Option[ConditionTree] = None
    var semiJoins = Seq.empty[ConditionTree.InSubquery]
    if (atIdent("where")) {
      next()
      def conjuncts(t: ConditionTree): Seq[ConditionTree] = t match {
        case ConditionTree.And(cs) => cs.flatMap(conjuncts)
        case other                 => Seq(other)
      }
      val cj = conjuncts(orExpr())
      val (leaves, rest0) = cj.partition(_.isInstanceOf[ConditionTree.Leaf])
      conds = leaves.collect { case ConditionTree.Leaf(c) => c }
      // membership subqueries are JOINS, legal only as top-level AND
      // conjuncts — lift them out of the predicate tree here
      val (subs, complex) = rest0.partition(_.isInstanceOf[ConditionTree.InSubquery])
      semiJoins = subs.collect { case s: ConditionTree.InSubquery => s }
      complex.find(containsSubquery).foreach(_ => throw ParseError(
        "in (select …) is a semi join — it must be a top-level AND " +
          "condition, not buried under or/not"))
      // $t_start/$t_end are the scan's time range — they only make sense as
      // top-level conjuncts; buried under OR/NOT their meaning is undefined,
      // so reject loudly rather than mis-scan
      def hasTimePseudo(t: ConditionTree): Boolean = t match {
        case ConditionTree.Leaf(c)  => c.column == "$t_start" || c.column == "$t_end"
        case ConditionTree.And(cs)  => cs.exists(hasTimePseudo)
        case ConditionTree.Or(cs)   => cs.exists(hasTimePseudo)
        case ConditionTree.Not(c)   => hasTimePseudo(c)
        case _: ConditionTree.InSubquery => false // its own parse guards $t
        case _: ConditionTree.ScalarSubquery => false // cmpRight guards $t
        case ConditionTree.ExprLeaf(l, _, r) =>
          // arithmetic over the scan-range pseudo-columns has no meaning
          (MeasureExpr.columns(l) ++ MeasureExpr.columns(r))
            .exists(c => c == "$t_start" || c == "$t_end")
      }
      complex.find(hasTimePseudo).foreach(_ => throw ParseError(
        "$t_start/$t_end must be top-level AND conditions (they ARE the scan's time range)"))
      whereTree = complex match {
        case Seq()  => None
        case Seq(t) => Some(t)
        case ts     => Some(ConditionTree.And(ts))
      }
    }

    var groupBy = Seq.empty[String]
    var rollup = false
    var cube = false
    var groupingSets = Seq.empty[Seq[String]]
    if (atIdent("group")) {
      next(); expectIdent("by")
      // `group by rollup a, b` / `group by cube a, b` (extensions):
      // subtotal levels / all key subsets, each ONE Expand pass
      if (atIdent("rollup") && toks.lift(pos + 1).exists(_.isInstanceOf[Ident])) {
        next(); rollup = true
      } else if (atIdent("cube") && toks.lift(pos + 1).exists(_.isInstanceOf[Ident])) {
        next(); cube = true
      }
      if (atIdent("sets") && toks.lift(pos + 1).contains(Sym("("))) {
        // `group by sets (a, b), (a), ()` — caller-chosen subtotal
        // levels (the general form rollup/cube specialize)
        if (rollup || cube)
          throw ParseError("rollup/cube and sets do not mix — sets IS the general form")
        next()
        groupingSets = commaList { () =>
          expectSym("(")
          val cols =
            if (peek.contains(Sym(")"))) Seq.empty[String]
            else commaList(ident _)
          expectSym(")")
          cols
        }
        if (groupingSets.size > 16)
          throw ParseError(s"grouping sets: ${groupingSets.size} levels " +
            "multiply every input row through Expand — cap at 16")
        if (groupingSets.distinct.size != groupingSets.size)
          throw ParseError("duplicate grouping set")
        groupingSets.foreach(set =>
          if (set.distinct.size != set.size)
            throw ParseError(s"duplicate column in grouping set (${set.mkString(", ")})"))
        groupBy = groupingSets.flatten.distinct
        if (groupBy.isEmpty)
          throw ParseError("grouping sets need at least one non-empty set")
      } else {
        groupBy = commaList(ident _)
      }
      if (cube && groupBy.size > 4)
        throw ParseError(s"cube over ${groupBy.size} keys expands 2^${groupBy.size} " +
          "levels per row — cap at 4 keys (use rollup for deep hierarchies)")
    }

    // HAVING (extension — the reference has no aggregate filtering):
    // and-chained numeric comparisons over aggregate items; an aggregate
    // named only here is computed for the filter and dropped from output
    var having = Seq.empty[Having]
    var havingTree = Option.empty[HavingTree]
    if (atIdent("having")) {
      next()
      def havingCond(): Having = {
        val sel = selectItem(allowAlias = false)
        // a bare name may reference a select-list `as` alias (the filter
        // then binds the aliased measure's output column); any other raw
        // name is a row condition and belongs in WHERE
        if (sel.agg == Agg.Raw && !selects.exists(_.alias.contains(sel.column)) &&
            !postSelects.exists(_.alias == sel.column))
          throw ParseError("having filters aggregates — use where for row " +
            "conditions (or reference a select-list `as` alias)")
        if (sel.agg == Agg.Heatmap) throw ParseError("cannot filter by heatmap(...)")
        val cmp = next() match {
          case Sym("=")              => Cmp.Eq
          case Sym("!=") | Sym("<>") => Cmp.Ne
          case Sym(">")              => Cmp.Gt
          case Sym("<")              => Cmp.Lt
          case Sym(">=")             => Cmp.Gte
          case Sym("<=")             => Cmp.Lte
          case other => throw ParseError(s"unsupported having operator $other")
        }
        Having(sel, cmp, value())
      }
      // full boolean structure (p110): OR / AND / NOT / parens with the
      // same precedence as WHERE (NOT > AND > OR). A leaf always starts
      // with an identifier (aggregate or alias), so '(' here is always
      // grouping. A pure AND-chain flattens back to the legacy conjunct
      // vector — identical plans for every pre-p110 query.
      def hAtom(): HavingTree = peek match {
        case Some(Ident("not")) => next(); HavingTree.Not(hAtom())
        case Some(Sym("(")) => next(); val t = hOr(); expectSym(")"); t
        case _ => HavingTree.Leaf(havingCond())
      }
      def hAnd(): HavingTree = {
        val cs = Seq.newBuilder[HavingTree]
        cs += hAtom()
        while (atIdent("and")) { next(); cs += hAtom() }
        val r = cs.result(); if (r.size == 1) r.head else HavingTree.And(r)
      }
      def hOr(): HavingTree = {
        val cs = Seq.newBuilder[HavingTree]
        cs += hAnd()
        while (atIdent("or")) { next(); cs += hAnd() }
        val r = cs.result(); if (r.size == 1) r.head else HavingTree.Or(r)
      }
      val tree = hOr()
      HavingTree.flatten(tree) match {
        case Some(leaves) => having = leaves
        case None         => havingTree = Some(tree)
      }
    }

    // QUALIFY (extension, p68): the post-window row filter — binds window
    // aliases and selected columns, evaluated AFTER the window projection
    // (dedup-keep-best: `qualify rn = 1`). Same condition grammar as
    // WHERE; subqueries have no meaning post-window and are rejected.
    var qualifyTree: Option[ConditionTree] = None
    if (atIdent("qualify")) {
      next()
      val t = orExpr()
      if (containsSubquery(t) || containsScalarSub(t))
        throw ParseError("qualify filters the WINDOWED frame — " +
          "subqueries belong in WHERE (they gate the scan)")
      if (ConditionTree.columns(t).exists(c => c == "$t_start" || c == "$t_end"))
        throw ParseError("$t_start/$t_end are the scan's time range — " +
          "they belong in WHERE, not qualify")
      qualifyTree = Some(t)
    }

    var orderBy = Seq.empty[OrderBy]
    if (atIdent("order")) {
      next(); expectIdent("by")
      orderBy = commaList { () =>
        // a bare name here may be a select-list `as` alias — it compiles
        // to a Raw select whose key IS the alias, so runSorted orders by
        // the aliased output column directly
        val sel = peek match {
          // ORDER BY <ordinal> (extension): 1-based SELECT-LIST
          // position — resolved AT PARSE to the output column name, so
          // every compile path sees a plain alias reference (DuckDB
          // resolves its ordinals the same way; nothing to divge on)
          case Some(Num(v)) =>
            next()
            val i = v.toIntOption.filter(_ >= 1).getOrElse(throw ParseError(
              s"order by ordinal must be a positive integer, got '$v'"))
            if (star || outOrder.isEmpty)
              throw ParseError("order by ordinal needs an explicit select list")
            if (i > outOrder.length)
              throw ParseError(s"order by $i exceeds the " +
                s"${outOrder.length}-item select list")
            Select(Agg.Raw, outOrder(i - 1))
          case _ => selectItem(allowAlias = false)
        }
        val dir =
          if (atIdent("desc")) { next(); SortDir.Desc }
          else { if (atIdent("asc")) next(); SortDir.Asc }
        // `nulls first` / `nulls last` (p106, extension): the engines'
        // DEFAULTS DIFFER (Spark ASC puts nulls first, DuckDB last) —
        // any nullable sort key should spell the placement; the engine's
        // own keys (__nil-coalesced groups, aggregate outputs) never
        // need it
        val nf: Option[Boolean] =
          if (atIdent("nulls")) {
            next()
            if (atIdent("first")) { next(); Some(true) }
            else if (atIdent("last")) { next(); Some(false) }
            else throw ParseError("expected `nulls first` or `nulls last`")
          } else None
        OrderBy(sel, dir, nf)
      }
    }

    var limitN: Option[Int] = None
    var limitPer: Option[String] = None
    var offsetN: Option[Int] = None
    if (atIdent("limit")) {
      next()
      limitN = next() match {
        case Num(v) => Some(parseInt(v, "limit count"))
        case other  => throw ParseError(s"expected limit count, got $other")
      }
      // `limit <k> per <col>` (extension): top-k rows of each partition
      // of <col> under the ORDER BY ranking — compiles to the
      // WindowGroupLimit rank-filter plan
      if (atIdent("per")) { next(); limitPer = Some(ident()) }
    }
    // `offset <m>` (p105, extension): pagination — skip the first m rows
    // of the ordered output (LIMIT n OFFSET m = rows m+1 … m+n). ORDER BY
    // required (an unordered page is nondeterministic); `limit per` cuts
    // per group, where a global row offset has no meaning.
    if (atIdent("offset")) {
      next()
      offsetN = next() match {
        case Num(v) => Some(parseInt(v, "offset count"))
        case other  => throw ParseError(s"expected offset count, got $other")
      }
      if (orderBy.isEmpty)
        throw ParseError("offset needs order by — an unordered page is " +
          "a different page every run")
      if (limitPer.nonEmpty)
        throw ParseError("offset does not compose with limit per — the " +
          "per-group cut has no global row order to page")
    }

    var gran = 300L // 5 minutes, expr.rs:226
    var granSet = false
    if (atIdent("granularity")) {
      next()
      granSet = true
      gran = next() match {
        case Num(v) => parseLong(v, "granularity seconds")
        case other  => throw ParseError(s"expected granularity seconds, got $other")
      }
    }

    // `slide <sec>` (extension): hopping windows — granularity-length
    // windows starting every slide seconds (Compiler.runHopping)
    var slide: Option[Long] = None
    if (atIdent("slide")) {
      next()
      slide = next() match {
        case Num(v) => Some(parseLong(v, "slide seconds"))
        case other  => throw ParseError(s"expected slide seconds, got $other")
      }
    }

    // `session <sec>` (extension): gap-based session windows instead of
    // tumbling buckets — see Compiler.runSession
    var sessionGap: Option[Long] = None
    if (atIdent("session")) {
      next()
      sessionGap = next() match {
        case Num(v) => Some(parseLong(v, "session gap seconds"))
        case other  => throw ParseError(s"expected session gap seconds, got $other")
      }
    }

    // `salt <n>` (extension): route the aggregation through the two-phase
    // skew plan — tumbling/hopping/top-groups via the salted partial+final
    // decomposition (Aggregates.groupedAgg), sessions via the exact
    // two-level interval merge (Compiler.runSessionTwoLevel), exact gap
    // walks via the run-decomposed parallel walk (GapWindows.parallel;
    // the salt COUNT is advisory there — parallelism is the number of
    // gap runs the data actually has). The explicit SQL face of the
    // one-hot-key mitigation.
    var salt: Option[Int] = None
    if (atIdent("salt")) {
      next()
      salt = next() match {
        case Num(v) =>
          val n = parseLong(v, "salt count")
          if (n < 1 || n > 4096) throw ParseError(s"salt count must be in [1, 4096], got $n")
          Some(n.toInt)
        case other => throw ParseError(s"expected salt count, got $other")
      }
    }

    // trailing `exact`: route windows through the reference-parity
    // data-anchored gap walk instead of calendar tumbling
    var exactWindows = false
    if (atIdent("exact")) { next(); exactWindows = true }
    if (!nested && pos < toks.length)
      throw ParseError(s"trailing input from token $pos: ${toks.drop(pos).take(5)}")

    // $t_start / $t_end pseudo-conditions → scan time range (expr.rs:170-186);
    // only equality is meaningful there — anything else would otherwise be
    // silently dropped, so reject it loudly
    conds.find(c => (c.column == "$t_start" || c.column == "$t_end") && c.cmp != Cmp.Eq)
      .foreach(c => throw ParseError(
        s"${c.column} supports only '=' (it IS the time range), got ${c.cmp.name}"))
    val tStart = conds.collectFirst { case Condition(Cmp.Eq, "$t_start", v) =>
      parseLong(v, "$t_start epoch seconds") }
    val tEnd = conds.collectFirst { case Condition(Cmp.Eq, "$t_end", v) =>
      parseLong(v, "$t_end epoch seconds") }
    val realConds = conds.filterNot(c => c.column == "$t_start" || c.column == "$t_end")

    val subtotals = rollup || cube || groupingSets.nonEmpty
    if (subtotals && (sessionGap.nonEmpty || slide.nonEmpty || exactWindows ||
        salt.nonEmpty || joinSpec.nonEmpty || seqOp.nonEmpty))
      throw ParseError("rollup/cube/sets route through the top-groups path — they " +
        "do not take session / slide / exact / salt / joins / sequence ops")
    if (subtotals && selects.forall(_.agg == Agg.Raw) && postSelects.isEmpty)
      throw ParseError("rollup/cube/sets need aggregate select items")
    limitPer.foreach { per =>
      if (orderBy.isEmpty)
        throw ParseError("limit per needs order by — the ranking that picks each partition's top rows")
      if (subtotals)
        throw ParseError("limit per ranks real groups, not rollup/cube/sets subtotal levels")
      if (seqOp.nonEmpty || joinSpec.nonEmpty)
        throw ParseError("limit per applies to aggregate and raw-projection queries")
      val isAggQuery = selects.exists(_.agg != Agg.Raw) || postSelects.nonEmpty
      if (isAggQuery && !groupBy.contains(per))
        throw ParseError(s"limit per '$per' must be a group by key")
      if (!isAggQuery && !selects.exists(_.column == per))
        throw ParseError(s"limit per '$per' must be a selected column")
    }
    if (sessionGap.nonEmpty && (exactWindows || orderBy.nonEmpty))
      throw ParseError("session windows are mutually exclusive with exact / order by")
    if (slide.nonEmpty && (exactWindows || orderBy.nonEmpty || sessionGap.nonEmpty))
      throw ParseError("slide is mutually exclusive with exact / order by / session")
    if (joinSpec.nonEmpty &&
        (having.nonEmpty || sessionGap.nonEmpty || slide.nonEmpty || exactWindows))
      throw ParseError("asof/trailing join queries do not take having / session / slide / exact")
    if (salt.nonEmpty && seqOp.isEmpty &&
        (joinSpec.nonEmpty || (selects.forall(_.agg == Agg.Raw) && postSelects.isEmpty)))
      throw ParseError("salt applies to aggregation queries only")
    if (exactWindows && selects.exists(_.expr.nonEmpty))
      throw ParseError("exact gap windows aggregate storage columns only — " +
        "drop `exact` (expression measures compose with tumbling/session/" +
        "hopping windows) or compute the expression upstream")
    if (exactWindows && postSelects.nonEmpty)
      throw ParseError("exact gap windows aggregate storage columns only — " +
        "post-aggregate expressions compose with tumbling/session/hopping " +
        "windows; drop `exact` or compute the ratio downstream")
    if (equiJoins.nonEmpty) {
      if (joinSpec.nonEmpty)
        throw ParseError("asof/trailing joins and plain equi-joins do not mix in one query")
      // session / slide COMPOSE with equi-joins (the windowed stream-enrich
      // shape: join the dims, then window); exact/rollup/cube stay batch
      // roll-up constructs
      if (exactWindows || subtotals)
        throw ParseError("equi-join queries aggregate by group keys — " +
          "no exact / rollup / cube / sets")
      // group by is OPTIONAL: without it the query is the global roll-up
      // over the joined frame (the q14 promo-ratio shape)
      if ((selects.isEmpty && postSelects.isEmpty) || selects.exists(s =>
          s.agg == Agg.Raw || s.agg == Agg.Heatmap))
        throw ParseError("equi-join queries select aggregates only — group " +
          "keys surface automatically, heatmap is unsupported")
    }
    seqOp.foreach { op =>
      if (joinSpec.nonEmpty || equiJoins.nonEmpty || orderBy.nonEmpty ||
          limitN.nonEmpty ||
          having.nonEmpty || sessionGap.nonEmpty || slide.nonEmpty ||
          exactWindows || salt.nonEmpty)
        throw ParseError("sequence ops take only where and (for argmax) " +
          "group by — no join/order/limit/having/session/slide/exact/salt")
      op match {
        case SeqOp.Argmax(_, _) =>
          if (groupBy.isEmpty)
            throw ParseError("argmax(value, id) requires group by")
        case _ =>
          if (groupBy.nonEmpty)
            throw ParseError("sequence ops fix their own grouping — " +
              "group by applies to argmax only")
      }
    }

    // DISTINCT is a raw-projection construct: aggregates have count_distinct
    // and group by; everything else would make "which rows dedup" ambiguous
    if (distinctRows) {
      if ((selects.isEmpty && !star) || selects.exists(_.agg != Agg.Raw) ||
          postSelects.nonEmpty || seqOp.nonEmpty)
        throw ParseError("select distinct projects bare columns — " +
          "aggregate queries dedup via count_distinct / group by")
      if (joinSpec.nonEmpty || equiJoins.nonEmpty || groupBy.nonEmpty ||
          having.nonEmpty || subtotals || sessionGap.nonEmpty ||
          slide.nonEmpty || exactWindows || salt.nonEmpty)
        throw ParseError("select distinct takes only where / order by / " +
          "limit — no joins, grouping, windows, or salt")
    }

    // analytic window items: a RAW-frame construct — aggregates have
    // group by, and every clause that reshapes rows is rejected with a
    // pointer at the composition that does work (CTE / derived table)
    if (winSelects.nonEmpty) {
      if (selects.exists(_.agg != Agg.Raw) || postSelects.nonEmpty ||
          seqOp.nonEmpty)
        throw ParseError("window functions project over a RAW frame — " +
          "aggregates / post-aggregates / sequence ops do not mix; " +
          "aggregate in a CTE or derived table first")
      if (groupBy.nonEmpty || having.nonEmpty || subtotals)
        throw ParseError("window functions take no group by / having — " +
          "`partition by` IS the grouping; aggregate in a CTE first")
      if (joinSpec.nonEmpty || equiJoins.nonEmpty)
        throw ParseError("window functions and join clauses do not mix " +
          "in one statement — join in a CTE or derived table first")
      if (sessionGap.nonEmpty || slide.nonEmpty || exactWindows || granSet ||
          salt.nonEmpty)
        throw ParseError("window functions are row-anchored — no " +
          "session / slide / exact / granularity / salt")
      if (distinctRows)
        throw ParseError("select distinct and window functions do not " +
          "mix — dedup in a CTE first (or use qualify over row_number)")
      if (limitPer.nonEmpty)
        throw ParseError("limit per IS a window top-k — use `qualify " +
          "rn <= k` over a row_number item instead")
      val outNames = selects.map(_.key) ++ winSelects.map(_.alias)
      if (outNames.distinct.size != outNames.size)
        throw ParseError("duplicate output column in the windowed select list")
      winSelects.map(_.alias).find(_.startsWith("__")).foreach(a =>
        throw ParseError(s"alias '$a' uses the engine-internal prefix __"))
    }
    if (qualifyTree.nonEmpty && winSelects.isEmpty)
      throw ParseError("qualify filters WINDOW columns — without window " +
        "items in the select list, use where")

    // explode is a RAW-path generator: aggregates/windows compose through
    // a derived table over the exploded frame (the word/tag-count shape)
    explodeSpec.foreach { case (src, _, alias) =>
      if (selects.exists(_.agg != Agg.Raw) || postSelects.nonEmpty ||
          seqOp.nonEmpty)
        throw ParseError("explode projects over a RAW frame — aggregate " +
          "OVER a derived exploded table (select count(*) from (select " +
          "explode(col, ',') as item from t) group by item)")
      if (winSelects.nonEmpty)
        throw ParseError("explode and window functions do not mix in one " +
          "statement — explode in a derived table first")
      if (groupBy.nonEmpty || having.nonEmpty || subtotals ||
          sessionGap.nonEmpty || slide.nonEmpty || exactWindows ||
          salt.nonEmpty || joinSpec.nonEmpty || equiJoins.nonEmpty)
        throw ParseError("explode takes only where / distinct / order by " +
          "/ limit — compose the rest over a derived exploded table")
      if (selects.exists(s => s.agg == Agg.Raw && s.expr.nonEmpty &&
          MeasureExpr.columns(s.expr.get).contains(alias)))
        throw ParseError("expression projections cannot read the explode " +
          "alias — it does not exist until after the explode; compute " +
          "over it in a derived table")
      if (selects.count(_.key == alias) > 1)
        throw ParseError(s"duplicate output column '$alias'")
      if (src == alias)
        throw ParseError("the explode alias shadows its source column — " +
          "pick a different name")
      if (whereTree.exists(t => ConditionTree.columns(t).contains(alias)) ||
          realConds.exists(_.column == alias))
        throw ParseError("where cannot see the explode alias (SQL " +
          "visibility: the explode applies AFTER where) — filter " +
          "elements in an outer query over a derived exploded table")
    }

    // the OUTER level of a derived table runs over an aggregate frame with
    // no timestamp column — every time-anchored construct belongs on the
    // inner query, and saying so beats silently mis-scanning
    fromSub.foreach { _ =>
      if (tStart.nonEmpty || tEnd.nonEmpty || granSet || sessionGap.nonEmpty ||
          slide.nonEmpty || exactWindows)
        throw ParseError("a derived table has no timestamp column — " +
          "$t_start/$t_end/granularity/session/slide/exact belong on the " +
          "INNER query")
      if (seqOp.nonEmpty)
        throw ParseError("sequence/corpus ops read base tables — run them " +
          "on the inner query, not over a derived table")
      if (joinSpec.nonEmpty || equiJoins.nonEmpty || filterJoins.nonEmpty)
        throw ParseError("joins belong on the inner query — the outer " +
          "level of a derived table is filter/aggregate/project only")
      if (selects.exists(_.agg == Agg.Heatmap))
        throw ParseError("heatmap needs the event timestamp — run it on " +
          "the base table")
    }

    if (star) {
      if (fromSub.nonEmpty)
        throw ParseError("select * needs a named base table — a derived " +
          "table's output columns are the inner query's; spell them")
      if (groupBy.nonEmpty || having.nonEmpty || rollup || cube ||
          groupingSets.nonEmpty || joinSpec.nonEmpty || equiJoins.nonEmpty ||
          explodeSpec.nonEmpty || granSet || sessionGap.nonEmpty ||
          slide.nonEmpty || exactWindows || salt.nonEmpty ||
          limitPer.nonEmpty)
        throw ParseError("select * is the whole-row projection — it " +
          "composes with where/order by/limit/distinct and membership " +
          "filters; aggregates, joins, windows, and explode spell their " +
          "columns")
    }
    (ZxQuery(selects, realConds, groupBy, orderBy, tStart, tEnd, gran, limitN,
      offset = offsetN,
      exact = exactWindows, fromTable = fromName, fromSub = fromSub,
      where = whereTree, asofJoin = joinSpec,
      equiJoins = equiJoins, filterJoins = filterJoins,
      having = having, havingTree = havingTree,
      sessionGapSec = sessionGap, slideSec = slide,
      skewSalt = salt, seqOp = seqOp, rollup = rollup, cube = cube,
      groupingSets = groupingSets,
      postSelects = postSelects, limitPer = limitPer,
      semiJoins = semiJoins, granSet = granSet,
      distinctRows = distinctRows, winSelects = winSelects,
      winOutOrder = winOutOrder, qualify = qualifyTree,
      explodeCol = explodeSpec, star = star), pos)
  }

  // --------------------------------------------------------------- executor

  /** Parse + route: asof/trailing join clause → [[graft.operators.AsofJoin]];
    * ORDER BY → sorted "top groups" path; all-Raw select → plain projection;
    * otherwise windowed time-series (`exact = true` replays the reference's
    * gap windows via [[GapWindows]]). `tables` is the catalog join clauses
    * resolve their right side from. */
  /** Catalog entry point: resolve the BASE frame from the query's own
    * `from <table>` clause — the front door without a DataFrame in hand.
    * Join clauses (asof/trailing/equi) resolve from the same catalog, so
    * one table map serves the whole query. `run(df, …)` keeps tolerating
    * and ignoring FROM (reference parity); here it is required. */
  /** Compile a membership subquery to its single-column match frame.
    *
    * Shape contract (loud guards): exactly ONE bare select column — the
    * membership key; clauses limited to scan/filter/group/having (a
    * membership set has no use for ordering, limits, windows, or nested
    * joins). With `group by`, the key must be a group key and HAVING
    * aggregates are computed for the filter then dropped — the q18
    * "orderkeys whose sum(qty) > N" shape. Group keys stay NATIVE-typed
    * here (no `__nil` string rendering): the key must join back against
    * the outer column in its own type, and a null key can never match an
    * IN anyway. Without HAVING the raw key projection suffices — the
    * semi join dedups. */
  /** Shared batch/stream compile for the `sample` corpus ops — both are
    * STATELESS narrow filters (the md5 coin is a per-row expression), so
    * the same code serves `run` and append-mode `runStream`; the text
    * column is pruned from the output so blobs never flow downstream. */
  private def compileSample(op: SeqOp, base: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val sampled = op match {
      case SeqOp.SampleRows(pct, strata, key) =>
        if (strata.isEmpty) graft.operators.Corpus.sampleByHash(base, key, pct)
        else graft.operators.Corpus.sampleStratified(
          base, "source", strata.toMap, defaultPct = pct, keyCol = key)
      case SeqOp.SampleWeight(c, scale, key) =>
        graft.operators.Corpus.sampleByWeight(
          base, Compiler.colRef(c).cast("double") / lit(scale.toDouble),
          keyCol = key)
      case SeqOp.SampleExact(n, key, per) =>
        per.map(g => graft.operators.Corpus.sampleExactNPerGroup(base, key, n, g))
          .getOrElse(graft.operators.Corpus.sampleExactN(base, key, n))
      case other => throw ParseError(s"not a sample op: $other")
    }
    // schema-agnostic: keep every metadata column the frame carries, prune
    // only the blob (a frame without `text` passes through untouched)
    sampled.drop("text")
  }

  /** Shared batch/stream compile for `lmscore` — training collects run at
    * plan time against a bounded frame (the gated batch frame, or the
    * static `train` catalog table); scoring is the stateless broadcast-map
    * fold, which is what makes the trained form streamable. */
  private def compileLmScore(op: SeqOp.LmScore, base: DataFrame,
                             tables: Map[String, DataFrame]): DataFrame = {
    import org.apache.spark.sql.functions._
    val trainBase = op.train match {
      case Some(t) =>
        val df = tables.getOrElse(t, throw ParseError(
          s"unknown train table '$t' — pass it via tables = Map(...)"))
        if (df.isStreaming) throw ParseError(s"train table '$t' is a " +
          "stream — the reference model trains on a STATIC table")
        df
      case None => base
    }
    val refDf = op.ref.map { case (c, rv) =>
      trainBase.filter(Compiler.colRef(c) === lit(rv))
    }.getOrElse(trainBase)
    val uni = graft.operators.Corpus.topUnigrams(refDf, op.vocab)
    val big = graft.operators.Corpus.topBigrams(refDf, op.table)
    // Two result-identical formulations (spec-pinned row-for-row equal,
    // x21/x21b): the literal-map fold probes an ArrayBasedMapData — an
    // O(tableSize) linear scan per bigram position, sane only for small
    // models — while the joined form pays two broadcast hash joins with
    // O(1) probes + one regroup. The face accepts vocab/table up to 100k,
    // so LARGE models route through the joined form (ADVICE r12: the fold
    // is "wrong at 100k"). Streams keep the fold at any size: the joined
    // regroup is a stateful streaming aggregation, which would break the
    // append-mode contract — and a 100k-entry interpreted probe per row is
    // slow, not wrong.
    // Threshold MEASURED r15 (an A/B probe whose source is kept in commit
    // 53f134c; sf0.1, 32 cpus, medians of 3; table padded with
    // never-matching entries past the corpus's 931 real bigrams):
    // literal/joined sec = 931: 1.01/1.24, 2000: 0.84/0.94,
    // 5000: 1.02/0.89, 20000: 3.69/1.20 — crossover ≈ 4-5k entries, so
    // route at 4096 (was 1024, a guess).
    val largeModel = math.max(uni.size, big.size) > 4096
    val scored =
      if (largeModel && !base.isStreaming)
        graft.operators.Corpus.lmScoreJoined(base, uni, big)
      else graft.operators.Corpus.lmScore(base, uni, big)
    scored
      .select(col("doc_id"), col("lang"), col("lm_sum_fp"),
        col("lm_hits"), col("n_bigrams"),
        when(col("n_bigrams") > 0,
          round(col("lm_sum_fp").cast("double") /
            (col("n_bigrams") * lit(1073741824L)), 6)).as("mean_p"))
  }

  /** Shared batch/stream compile for the stateless per-document map ops
    * (`quality`, `redact`) — pure narrow projections, so one code path
    * serves `run` and append-mode `runStream`. */
  private def compileDocMap(op: SeqOp, base: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions._
    op match {
      case SeqOp.Quality =>
        base.select(col("doc_id"),
          tokenCount(col("text")).as("n_tokens"),
          punctRatio(col("text")).as("punct_ratio"),
          stopwordRatio(col("text")).as("stop_ratio"),
          qualityOk(col("text")).as("quality_ok"))
      case SeqOp.Redact(terms) =>
        base.select(col("doc_id") +:
          terms.map(t => termCount(col("text"), t).as(s"n_$t")) :+
          substring(md5(redactTerms(col("text"), terms)), 1, 16)
            .as("redacted_fp"): _*)
      case SeqOp.LangId =>
        base.select(col("doc_id"), col("lang"), tokens(col("text")).as("__toks"))
          .select(col("doc_id"), col("lang"),
            langIdFromTokens(col("__toks")).as("lang_pred"))
          .withColumn("agree", col("lang_pred") === col("lang"))
      case other => throw ParseError(s"not a doc-map op: $other")
    }
  }

  /** Resolve a `using <index>` clause to the (index frame, driver-held
    * centroids) pair — shared by the knn (p58) and mmr (p65) faces. Loud
    * failures throughout: missing index, a table without the `cell`
    * partition column (= not an ivfWriteIndex artifact), missing
    * centroids table. NO training, NO brute fallback. */
  private def resolveIvfIndex(ixName: String, centName: Option[String],
                              tables: Map[String, DataFrame])
      : (DataFrame, Seq[(Int, Seq[Double])]) = {
    val ix = tables.getOrElse(ixName, throw ParseError(
      s"unknown index table '$ixName' — pass the BUILT index " +
        "(Similarity.ivfWriteIndex output) via tables/runCatalog " +
        s"(have: ${tables.keys.toSeq.sorted.mkString(", ")})"))
    if (!ix.columns.contains("cell"))
      throw ParseError(s"'$ixName' is not a built IVF index — no " +
        "'cell' partition column; build one with ivfWriteIndex " +
        "(training is a lifecycle step, not a query)")
    val cn = centName.getOrElse(ixName + "_centroids")
    val centDf = tables.getOrElse(cn, throw ParseError(
      s"unknown centroids table '$cn' — the index's trained " +
        "centroids (Similarity.writeCentroids artifact); register " +
        "it in the catalog or name one with `centroids <table>`"))
    (ix, graft.operators.Similarity.collectCentroids(centDf))
  }

  /** Query vector by id from the gated FROM frame (brute-face semantics —
    * the gate applies to the query row too). */
  private def queryVecFromBase(base: DataFrame, qid: Long): IndexedSeq[Double] = {
    import org.apache.spark.sql.functions.col
    val qRows = base.filter(col("vec_id") === qid)
      .select(graft.functions.VectorFunctions.toDouble(col("embedding")))
      .limit(1).collect()
    if (qRows.isEmpty) throw ParseError(
      s"query id $qid not found in the gated FROM frame")
    qRows.head.getSeq[Double](0).toIndexedSeq
  }

  /** Apply one `semi join` / `anti join` clause ([[FilterJoin]], p72) to
    * the frame: resolve the right side (catalog table, or a derived
    * scan/filter/projection that must select every ON right key — a
    * computed key via an expression projection works), rename the key
    * columns to positional internal names (self-joins — gating a table
    * against a slice of ITSELF — stay unambiguous), and left_semi/
    * left_anti join on the conjunction of all key equalities. Duplicate
    * right keys never multiply rows, so no dedup pass is spent; AQE
    * broadcasts a small key frame. */
  private def applyFilterJoin(d: DataFrame, fj: FilterJoin, idx: Int,
                              tsCol: String,
                              tables: Map[String, DataFrame]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val right = fj.sub match {
      case Some(sub0) =>
        val sub = sub0.copy(where = sub0.where.map(resolveScalarSubs(_, tsCol, tables)))
        val from = sub.fromTable.getOrElse(throw ParseError(
          "semi/anti join (select …) needs a `from <table>` clause"))
        val base = tables.getOrElse(from, throw ParseError(
          s"unknown semi/anti-join table '$from' — pass it via tables/" +
            s"runCatalog (have: ${tables.keys.toSeq.sorted.mkString(", ")})"))
        if (sub.selects.isEmpty || sub.selects.exists(_.agg != Agg.Raw))
          throw ParseError("a semi/anti-join subquery projects the bare ON " +
            "key columns (computed keys via `expr as name` work) — " +
            "aggregates have no row to match")
        fj.keys.map(_._2).find(k => !sub.selects.exists(_.key == k)).foreach(k =>
          throw ParseError(s"the semi/anti-join subquery must select ON key '$k'"))
        if (sub.orderBy.nonEmpty || sub.limit.nonEmpty || sub.limitPer.nonEmpty ||
            sub.seqOp.nonEmpty || sub.asofJoin.nonEmpty || sub.equiJoins.nonEmpty ||
            sub.filterJoins.nonEmpty || sub.sessionGapSec.nonEmpty ||
            sub.slideSec.nonEmpty || sub.exact || sub.rollup || sub.cube ||
            sub.groupBy.nonEmpty || sub.having.nonEmpty ||
            sub.havingTree.nonEmpty ||
            sub.postSelects.nonEmpty || sub.semiJoins.nonEmpty ||
            sub.skewSalt.nonEmpty || sub.fromSub.nonEmpty ||
            sub.winSelects.nonEmpty || sub.distinctRows)
          throw ParseError("semi/anti-join subqueries are scan/filter/" +
            "project only — a key set needs no ordering, grouping, or " +
            "dedup (semi/anti never multiply rows); compute anything " +
            "richer as its own table upstream")
        Compiler.runRaw(base, sub, tsCol)
      case None => tables.getOrElse(fj.table, throw ParseError(
        s"unknown join table '${fj.table}' — pass it via run(..., " +
          "tables = Map(...))"))
    }
    val keyCols = fj.keys.map(_._2).zipWithIndex.map { case (rk, j) =>
      Compiler.colRef(rk).as(s"__fj${idx}_k$j") }
    val cond = fj.keys.zipWithIndex.map { case ((lk, _), j) =>
      Compiler.colRef(lk) === col(s"__fj${idx}_k$j") }.reduce(_ && _)
    d.join(right.select(keyCols: _*), cond,
      if (fj.anti) "left_anti" else "left_semi")
  }

  private def compileSubquery(sub0: ZxQuery, tsCol: String,
                              tables: Map[String, DataFrame]): DataFrame = {
    // a membership subquery's own WHERE may carry scalar subqueries
    val sub = sub0.copy(where = sub0.where.map(resolveScalarSubs(_, tsCol, tables)))
    val from = sub.fromTable.getOrElse(throw ParseError(
      "in (select …) needs a `from <table>` clause"))
    val df = tables.getOrElse(from, throw ParseError(
      s"unknown subquery table '$from' — pass it via tables/runCatalog " +
        s"(have: ${tables.keys.toSeq.sorted.mkString(", ")})"))
    if (sub.selects.size != 1 || sub.selects.head.agg != Agg.Raw)
      throw ParseError("a membership subquery selects exactly ONE bare " +
        "column — the key the outer `in` matches against")
    val matchCol = sub.selects.head.column
    if (sub.orderBy.nonEmpty || sub.limit.nonEmpty || sub.seqOp.nonEmpty ||
        sub.asofJoin.nonEmpty || sub.equiJoins.nonEmpty ||
        sub.filterJoins.nonEmpty ||
        sub.sessionGapSec.nonEmpty || sub.slideSec.nonEmpty || sub.exact ||
        sub.rollup || sub.cube || sub.postSelects.nonEmpty ||
        sub.semiJoins.nonEmpty || sub.skewSalt.nonEmpty)
      throw ParseError("membership subqueries are scan/filter/group/having " +
        "only — no order/limit/windows/joins/rollup/salt/nested subqueries")
    val scanned = Compiler.scanFilter(df, sub, tsCol)
    val subHaving = sub.having.nonEmpty || sub.havingTree.nonEmpty
    if (sub.groupBy.isEmpty) {
      if (subHaving)
        throw ParseError("subquery having needs group by")
      scanned.select(Compiler.colRef(matchCol))
    } else {
      if (!sub.groupBy.contains(matchCol))
        throw ParseError(s"subquery selects '$matchCol', which must be one " +
          "of its group by keys")
      if (!subHaving) scanned.select(Compiler.colRef(matchCol))
      else {
        val aggSels = Compiler.havingSelects(sub)
          .filterNot(_.agg == Agg.Raw).distinct
        if (aggSels.isEmpty)
          throw ParseError("subquery having must filter aggregates")
        val grouped = graft.compile.Aggregates.groupedAgg(scanned,
          sub.groupBy.map(Compiler.colRef), sub.groupBy, aggSels,
          df.schema, None)
        Compiler.havingFilter(grouped, sub.having, sub.havingTree)
          .select(Compiler.colRef(matchCol))
      }
    }
  }

  /** Compile a DERIVED equi-join right side (`join (select …) on kl = k`)
    * to a native-key aggregate frame — the correlated-threshold shape:
    * one aggregation pass builds per-key thresholds, the join carries
    * them onto the fact rows, and the outer WHERE's expression
    * predicates do the comparison. Shape contract (loud guards): every
    * select is a scalar AGGREGATE measure; `group by` names exactly the
    * ON clause's right key (which stays NATIVE-typed — it must match the
    * left key in its own type); clauses beyond scan/filter/group/having
    * are rejected. The key is renamed to a positional internal name so
    * self-joins (q17 joins lineitem's averages back onto lineitem) never
    * hit column ambiguity; the caller drops it after the join. */
  private def compileJoinSub(sub0: ZxQuery, keyR: String, idx: Int,
                             tsCol: String, tables: Map[String, DataFrame],
                             fallback: Option[DataFrame]): (DataFrame, String) = {
    val sub = sub0.copy(where = sub0.where.map(resolveScalarSubs(_, tsCol, tables)))
    val df = sub.fromTable match {
      case Some(n) => tables.getOrElse(n, throw ParseError(
        s"unknown join-subquery table '$n' — pass it via tables/runCatalog " +
          s"(have: ${tables.keys.toSeq.sorted.mkString(", ")})"))
      case None => fallback.getOrElse(throw ParseError(
        "a join subquery on a stream needs an explicit `from <table>` " +
          "naming a STATIC catalog table"))
    }
    if (sub.selects.isEmpty ||
        sub.selects.exists(s => s.agg == Agg.Raw || s.agg == Agg.Heatmap))
      throw ParseError("a join subquery selects scalar AGGREGATE measures " +
        "— the per-key thresholds the join carries onto each row")
    if (sub.groupBy != Seq(keyR))
      throw ParseError(s"a join subquery groups by exactly the ON clause's " +
        s"right key ('$keyR'), got: ${sub.groupBy.mkString(", ")}")
    if (sub.orderBy.nonEmpty || sub.limit.nonEmpty || sub.limitPer.nonEmpty ||
        sub.seqOp.nonEmpty || sub.asofJoin.nonEmpty || sub.equiJoins.nonEmpty ||
        sub.filterJoins.nonEmpty ||
        sub.sessionGapSec.nonEmpty || sub.slideSec.nonEmpty || sub.exact ||
        sub.rollup || sub.cube || sub.postSelects.nonEmpty ||
        sub.semiJoins.nonEmpty || sub.skewSalt.nonEmpty || sub.fromSub.nonEmpty)
      throw ParseError("join subqueries are scan/filter/group/having only " +
        "— compute anything richer as its own table upstream")
    val scanned = Compiler.scanFilter(df, sub, tsCol)
    val aggSels = (sub.selects ++ Compiler.havingSelects(sub)
      .filterNot(s => sub.selects.contains(s) || s.agg == Agg.Raw)).distinct
    val grouped = graft.compile.Aggregates.groupedAgg(scanned,
      Seq(Compiler.colRef(keyR)), Seq(keyR), aggSels, df.schema, None)
    val uniq = s"__dj${idx}_key"
    (Compiler.havingFilter(grouped, sub.having, sub.havingTree)
      .select(Compiler.colRef(keyR).as(uniq) +:
        sub.selects.map(s => Compiler.colRef(s.key)): _*), uniq)
  }

  /** Evaluate a scalar subquery to its literal rendering. One aggregate
    * over a scanned/filtered bounded table — the threshold the outer
    * comparison inlines. Runs ONE tiny aggregation job at plan-build
    * (the 100 TB-right shape: the literal then pushes into the main
    * scan, instead of a join riding every row). */
  private def evalScalarSub(sub0: ZxQuery, tsCol: String,
                            tables: Map[String, DataFrame]): String = {
    // scalar subqueries nest: resolve inner ones first
    val sub = sub0.copy(where = sub0.where.map(resolveScalarSubs(_, tsCol, tables)))
    val from = sub.fromTable.getOrElse(throw ParseError(
      "a scalar subquery needs a `from <table>` clause"))
    val df = tables.getOrElse(from, throw ParseError(
      s"unknown subquery table '$from' — pass it via tables/runCatalog " +
        s"(have: ${tables.keys.toSeq.sorted.mkString(", ")})"))
    if (sub.selects.size != 1 || sub.selects.head.agg == Agg.Raw ||
        sub.selects.head.agg == Agg.Heatmap)
      throw ParseError("a scalar subquery selects exactly ONE scalar " +
        "aggregate — the comparison threshold")
    if (sub.groupBy.nonEmpty || sub.having.nonEmpty ||
        sub.havingTree.nonEmpty || sub.orderBy.nonEmpty ||
        sub.limit.nonEmpty || sub.seqOp.nonEmpty || sub.asofJoin.nonEmpty ||
        sub.equiJoins.nonEmpty || sub.filterJoins.nonEmpty ||
        sub.sessionGapSec.nonEmpty ||
        sub.slideSec.nonEmpty || sub.exact || sub.rollup || sub.cube ||
        sub.postSelects.nonEmpty || sub.semiJoins.nonEmpty ||
        sub.skewSalt.nonEmpty)
      throw ParseError("scalar subqueries are scan/filter + one aggregate " +
        "only — a grouped result is not a scalar")
    val scanned = Compiler.scanFilter(df, sub, tsCol)
    val row = scanned.agg(
      graft.compile.Aggregates.compile(sub.selects.head, df.schema)).head()
    if (row.isNullAt(0))
      throw ParseError("scalar subquery returned NULL — empty input has " +
        "no threshold to compare against")
    row.get(0).toString // Double/Long toString round-trips exactly
  }

  /** Substitute every scalar subquery in the tree with the literal leaf
    * its evaluation produced — the comparison then pushes into the scan
    * like any literal predicate. */
  private def resolveScalarSubs(t: ConditionTree, tsCol: String,
                                tables: Map[String, DataFrame]): ConditionTree =
    t match {
      case s: ConditionTree.ScalarSubquery =>
        ConditionTree.Leaf(
          Condition(s.cmp, s.column, evalScalarSub(s.sub, tsCol, tables)))
      case ConditionTree.And(cs) =>
        ConditionTree.And(cs.map(resolveScalarSubs(_, tsCol, tables)))
      case ConditionTree.Or(cs) =>
        ConditionTree.Or(cs.map(resolveScalarSubs(_, tsCol, tables)))
      case ConditionTree.Not(c) =>
        ConditionTree.Not(resolveScalarSubs(c, tsCol, tables))
      case other => other
    }

  /** Parse a COMPOUND statement: `query [<op> query]*` with op ∈ `union`,
    * `union all`, `except`, `intersect` (extension, p60/p63/p64 — the
    * corpus-slice composition shapes: union two gated sub-queries,
    * subtract a contaminated slice, keep the common core). Returns the
    * head query and the (op, query) tail. ONE op kind per statement:
    * SQL's mixed-op precedence rules (INTERSECT binds tighter) are a
    * standing source of silent surprise — a chain of one operator is
    * unambiguous, and richer compositions nest as separate statements. */
  private def parseCompound(sql: String): Compound = {
    val toks = lex(sql)
    val (co, pos) = parseCompoundAt(toks, 0)
    if (pos < toks.length)
      throw ParseError(s"trailing input from token $pos: ${toks.drop(pos).take(5)}")
    co
  }

  /** Resumable compound parse: one query, then zero or more set-op
    * branches of ONE operator kind; stops at the first token that is
    * neither (a closing `)` of a CTE body, more statement, …). Returns
    * the compound and the resume position. */
  private def parseCompoundAt(toks: Vector[Tok], start: Int): (Compound, Int) = {
    val (head, p0) = parseTokens(toks, start, nested = true)
    var pos = p0
    val tail = Seq.newBuilder[(String, ZxQuery)]
    def atOp: Option[String] = toks.lift(pos) match {
      case Some(Ident("union"))     => Some("union")
      case Some(Ident("except"))    => Some("except")
      case Some(Ident("intersect")) => Some("intersect")
      case _                        => None
    }
    var op = atOp
    while (op.nonEmpty) {
      pos += 1
      val kind =
        if (op.contains("union") && toks.lift(pos).contains(Ident("all"))) {
          pos += 1; "union all"
        } else op.get
      val (z, p2) = parseTokens(toks, pos, nested = true)
      tail += ((kind, z)); pos = p2
      op = atOp
    }
    val branches = tail.result()
    if (branches.map(_._1).distinct.size > 1)
      throw ParseError("set operators do not mix in one statement (" +
        branches.map(_._1).distinct.mkString(" vs ") + ") — chain one " +
        "kind; richer compositions are separate statements")
    if (branches.isEmpty)
      return (Compound(head, branches, Nil, None, None), pos)
    // SQL-standard binding: a trailing ORDER BY / LIMIT after the last
    // branch orders/cuts the COMPOSED result (the grammar parses it into
    // the last branch — lift it out). Branches themselves are BAGS: any
    // other branch-level ORDER BY or LIMIT is rejected loudly — the set
    // operator destroys branch order, and a per-branch top-k spells
    // unambiguously as a derived table:
    //   select k from (select k, s from t order by s desc limit 5)
    //     union …
    val lastIdx = branches.size - 1
    val last = branches(lastIdx)._2
    val (coOrder, coLimit, coOffset) = (last.orderBy, last.limit, last.offset)
    if (last.limitPer.nonEmpty)
      throw ParseError("limit per ranks within ONE query — wrap the " +
        "branch in a derived table, or rank the composed result downstream")
    coOrder.find(_.select.agg != Agg.Raw).foreach(ob => throw ParseError(
      s"a compound statement's ORDER BY binds to the composed result — " +
        s"order by its output COLUMN names, not ${ob.select.agg.name}(...)"))
    val cleaned = branches.updated(lastIdx,
      (branches(lastIdx)._1, last.copy(orderBy = Nil, limit = None,
        offset = None)))
    (head +: cleaned.map(_._2)).zipWithIndex.foreach { case (z, i) =>
      if (z.orderBy.nonEmpty || z.limit.nonEmpty || z.offset.nonEmpty)
        throw ParseError(
        s"set-op branch ${i + 1} has ORDER BY/LIMIT — branches are bags " +
          "(the operator destroys their order); a trailing ORDER BY/LIMIT " +
          "binds to the COMPOSED result, and a per-branch top-k spells as " +
          "a derived table: select … from (select … order by … limit k)")
    }
    (Compound(head, cleaned, coOrder, coLimit, coOffset), pos)
  }

  /** A parsed compound statement: `branches` empty means a plain single
    * query; otherwise `order`/`limit`/`offset` bind to the COMPOSED
    * result. */
  private final case class Compound(head: ZxQuery,
                                    branches: Seq[(String, ZxQuery)],
                                    order: Seq[OrderBy], limit: Option[Int],
                                    offset: Option[Int])

  /** CTE prefix: `with <name> as (<statement>) [, <name> as (…)]*`.
    * Each body is a FULL statement (set operators included); later CTEs
    * and the main statement see earlier ones by name. Returns the
    * definitions in order plus the resume position (0 names ⇒ no WITH).
    * Duplicate names are rejected; a CTE may shadow a catalog table
    * (SQL-standard — the statement-local name wins, like a derived
    * table's would). */
  /** Loud guard for the faces that cannot resolve CTEs. */
  private def rejectWith(sql: String, why: String): Unit =
    if (lex(sql).headOption.contains(Ident("with")))
      throw ParseError(s"`with` (CTEs): $why")

  private def parseWithPrefix(toks: Vector[Tok]): (Seq[(String, Compound)], Int) = {
    if (!toks.headOption.contains(Ident("with"))) return (Nil, 0)
    var pos = 1
    val defs = Seq.newBuilder[(String, Compound)]
    val seen = scala.collection.mutable.Set.empty[String]
    var more = true
    while (more) {
      val name = toks.lift(pos) match {
        case Some(Ident(n)) => pos += 1; n
        case other => throw ParseError(s"with: expected a CTE name, got $other")
      }
      if (!seen.add(name))
        throw ParseError(s"with: duplicate CTE name '$name'")
      if (!toks.lift(pos).contains(Ident("as")))
        throw ParseError(s"with $name: expected 'as', got ${toks.lift(pos)}")
      pos += 1
      if (!toks.lift(pos).contains(Sym("(")))
        throw ParseError(s"with $name as: expected '(', got ${toks.lift(pos)}")
      pos += 1
      val (body, p2) = parseCompoundAt(toks, pos)
      if (!toks.lift(p2).contains(Sym(")")))
        throw ParseError(s"with $name: expected ')' closing the CTE body, " +
          s"got ${toks.lift(p2)}")
      pos = p2 + 1
      defs += ((name, body))
      if (toks.lift(pos).contains(Sym(","))) pos += 1 else more = false
    }
    (defs.result(), pos)
  }

  /** Combine compiled set-op branches: identical output schemas required
    * (name AND type, positionally — a silent coercion here would corrupt
    * the very slices the user is composing). `union all` keeps every row;
    * `union`/`except`/`intersect` are SQL-standard DISTINCT set
    * semantics (Spark's except/intersect already are; union gets the
    * explicit distinct). except/intersect fold left-associatively. */
  private def combineSetOps(frames: Seq[DataFrame], co: Compound): DataFrame = {
    val op = co.branches.head._1
    def sig(df: DataFrame): Seq[(String, String)] =
      df.schema.fields.toSeq.map(f => (f.name, f.dataType.simpleString))
    val headSig = sig(frames.head)
    frames.tail.zipWithIndex.foreach { case (f, i) =>
      if (sig(f) != headSig) throw ParseError(
        s"$op branch ${i + 2} schema (${sig(f).map { case (n, t) => s"$n $t" }
          .mkString(", ")}) does not match branch 1 (${headSig
          .map { case (n, t) => s"$n $t" }.mkString(", ")}) — " +
          "set operations need identical output schemas; alias/cast in the branches")
    }
    val combined = op match {
      case "union all" => frames.reduce(_.union(_))
      case "union"     => frames.reduce(_.union(_)).distinct()
      case "except"    => frames.reduce(_.except(_))
      case "intersect" => frames.reduce(_.intersect(_))
      case other       => throw ParseError(s"unknown set operator '$other'")
    }
    // SQL-standard trailing clauses: ORDER BY / LIMIT over the COMPOSED
    // result, bound by output column name (parseCompound guarantees Raw)
    val outCols = combined.columns.toSet
    co.order.find(ob => !outCols.contains(ob.select.column)).foreach(ob =>
      throw ParseError(s"compound ORDER BY column '${ob.select.column}' " +
        s"is not in the composed output (${combined.columns.mkString(", ")})"))
    val ord = co.order.map(ob =>
      Compiler.orderCol(Compiler.colRef(ob.select.column), ob))
    val sorted = if (ord.nonEmpty) combined.orderBy(ord: _*) else combined
    val paged = co.offset.map(sorted.offset).getOrElse(sorted)
    co.limit.map(paged.limit).getOrElse(paged)
  }

  def runCatalog(tables: Map[String, DataFrame], sql: String,
                 tsCol: String = Compiler.DefaultTsCol,
                 exact: Boolean = false,
                 idCol: Option[String] = None): DataFrame = {
    val toks = lex(sql)
    if (Seq("create", "insert", "delete", "update").exists(w =>
        toks.headOption.contains(Ident(w))))
      throw ParseError("`create table … as` / `insert into` / `delete from` " +
        "/ `update … set` WRITE through a warehouse — use runCreate/" +
        "runInsert/runDelete/runUpdate(tables, sql, warehouseDir); " +
        "runCatalog is read-only")
    val (ctes, p0) = parseWithPrefix(toks)
    val (co, p1) = parseCompoundAt(toks, p0)
    if (p1 < toks.length)
      throw ParseError(s"trailing input from token $p1: ${toks.drop(p1).take(5)}")
    // CTEs evaluate in order, each seeing the catalog plus every earlier
    // CTE (chaining). "Evaluate" is LOGICAL-plan construction only — a CTE
    // referenced twice repeats its subtree, exactly like a derived table
    // would; nothing materializes here. That recompute is the CONTRACT
    // (grammar doc above): Spark's exchange reuse makes any shuffle
    // inside the body compute once physically, and a shuffle-free body
    // re-scans WITH each reference's own pushdown — an eager cache/
    // localCheckpoint here would trade both away for executor-storage
    // materialization of the full body.
    val full = ctes.foldLeft(tables) { case (acc, (name, body)) =>
      acc + (name -> runCompound(acc, body, tsCol, exact, idCol,
        innerFrame = true))
    }
    runCompound(full, co, tsCol, exact, idCol)
  }

  /** `create table <name> as <statement>` — the SQL WRITE face (the
    * reference's third command is the insert face, `ZX.I`
    * lib.rs:846-856; ours generalizes it to materializing ANY compound
    * statement). The body is a full [[runCatalog]] statement — CTEs, set
    * ops, joins, gates, dedup, the whole front door — whose result is
    * committed as a new manifested store at `<warehouseDir>/<name>` via
    * [[graft.sources.EventStore.createTable]] (staged write → move-in →
    * manifest v0; crash-safe, collision-loud), then READ BACK pinned to
    * that manifest — the returned frame proves what durably landed, not
    * what the plan produced.
    *
    * The body follows the CTE-body windowing rule (its result feeds a
    * TABLE, not a report): an unwindowed aggregate means per-key totals,
    * never the reference's default 300 s tumbling buckets. A result
    * carrying `tsCol` as a timestamp lands date-partitioned (and its
    * read-back gains the store's `event_date` partition column, like any
    * store read); any other schema lands flat. Name collisions — with a
    * catalog table, a CTE, or an existing store — fail loudly. */
  def runCreate(tables: Map[String, DataFrame], sql: String,
                warehouseDir: String,
                tsCol: String = Compiler.DefaultTsCol,
                exact: Boolean = false,
                idCol: Option[String] = None): DataFrame = {
    val toks = lex(sql)
    if (!(toks.headOption.contains(Ident("create")) &&
          toks.lift(1).contains(Ident("table"))))
      throw ParseError("runCreate takes `create table <name> as " +
        "<statement>` — for a read-only statement use runCatalog")
    val name = toks.lift(2) match {
      case Some(Ident(n)) => n
      case other => throw ParseError(s"create table: expected a table name, got $other")
    }
    if (!name.matches("[a-z_][a-z0-9_]*"))
      throw ParseError(s"create table: '$name' is not a valid table name " +
        "([a-z_][a-z0-9_]* — it becomes a directory under the warehouse)")
    if (tables.contains(name))
      throw ParseError(s"create table: '$name' already names a catalog " +
        "table — CTAS never shadows or overwrites; pick another name")
    if (!toks.lift(3).contains(Ident("as")))
      throw ParseError(s"create table $name: expected 'as', got ${toks.lift(3)}")
    val result = compileWriteBody(tables, toks.drop(4), 4, name, tsCol,
      exact, idCol)
    val target = warehouseDir.stripSuffix("/") + "/" + name
    graft.sources.EventStore.createTable(result, target, tsCol)
    graft.sources.EventStore.readPinned(result.sparkSession, target)
  }

  /** `insert into <name> <statement>` — the append half of the write
    * face (the reference's literal `ZX.I` shape, lib.rs:846-856). The
    * target must already be a manifested store under `warehouseDir`
    * ([[runCreate]] makes one); the statement's schema must match the
    * table exactly ([[graft.sources.EventStore.insertInto]] contract —
    * INSERT never coerces). Bag semantics: inserted rows append, never
    * dedupe. Returns the whole table's pinned read-back AFTER the
    * commit, so the caller verifies the new durable state. */
  def runInsert(tables: Map[String, DataFrame], sql: String,
                warehouseDir: String,
                tsCol: String = Compiler.DefaultTsCol,
                exact: Boolean = false,
                idCol: Option[String] = None): DataFrame = {
    val toks = lex(sql)
    if (!(toks.headOption.contains(Ident("insert")) &&
          toks.lift(1).contains(Ident("into"))))
      throw ParseError("runInsert takes `insert into <name> <statement>` " +
        "— for a new table use runCreate, for a read use runCatalog")
    val name = toks.lift(2) match {
      case Some(Ident(n)) => n
      case other => throw ParseError(s"insert into: expected a table name, got $other")
    }
    if (!name.matches("[a-z_][a-z0-9_]*"))
      throw ParseError(s"insert into: '$name' is not a valid table name " +
        "([a-z_][a-z0-9_]* — it resolves to a directory under the warehouse)")
    if (tables.contains(name))
      throw ParseError(s"insert into: '$name' names a CATALOG frame — " +
        "INSERT targets warehouse stores; materialize catalog frames " +
        "with create table first")
    val target = warehouseDir.stripSuffix("/") + "/" + name
    // `insert into <t> values (…), (…)` (p112): literal rows — the small-
    // dimension/backfill staple. Cells are positional against the STORED
    // schema; literals are untyped by nature, so each cell CASTS to its
    // column's stored type (ANSI: a mis-typed literal fails loudly, never
    // silently nulls) — the one place the never-coerce INSERT contract
    // does not apply, because a literal has no schema to contract with.
    if (toks.lift(3).contains(Ident("values"))) {
      val spark = org.apache.spark.sql.SparkSession.active
      val schema = graft.sources.EventStore.readPinned(spark, target).schema
      var pos = 4
      def parseRow(): Seq[Option[String]] = {
        if (!toks.lift(pos).contains(Sym("(")))
          throw ParseError(s"values: expected '(', got ${toks.lift(pos)}")
        pos += 1
        val cells = Seq.newBuilder[Option[String]]
        var more = true
        while (more) {
          toks.lift(pos) match {
            case Some(Num(v))        => cells += Some(v); pos += 1
            case Some(Str(v))        => cells += Some(v); pos += 1
            case Some(Ident("null")) => cells += None; pos += 1
            case other => throw ParseError(
              s"values: expected a literal (number, 'string', null), got $other")
          }
          toks.lift(pos) match {
            case Some(Sym(","))  => pos += 1
            case Some(Sym(")"))  => pos += 1; more = false
            case other => throw ParseError(s"values: expected ',' or ')', got $other")
          }
        }
        cells.result()
      }
      val rows = Seq.newBuilder[Seq[Option[String]]]
      rows += parseRow()
      while (toks.lift(pos).contains(Sym(","))) { pos += 1; rows += parseRow() }
      if (pos < toks.length)
        throw ParseError(s"trailing input from token $pos: ${toks.drop(pos).take(5)}")
      val rs = rows.result()
      rs.find(_.size != schema.size).foreach(r => throw ParseError(
        s"values row has ${r.size} cells — '$name' has ${schema.size} " +
          s"columns (${schema.fieldNames.mkString(", ")}), positional"))
      val strSchema = org.apache.spark.sql.types.StructType(schema.fields.map(f =>
        org.apache.spark.sql.types.StructField(f.name,
          org.apache.spark.sql.types.StringType, nullable = true)))
      val df0 = spark.createDataFrame(
        java.util.Arrays.asList(rs.map(r =>
          org.apache.spark.sql.Row(r.map(_.orNull): _*)): _*), strSchema)
      val typed = df0.select(schema.fields.toIndexedSeq.map(f =>
        Compiler.colRef(f.name).cast(f.dataType).as(f.name)): _*)
      graft.sources.EventStore.insertInto(typed, target, tsCol)
      return graft.sources.EventStore.readPinned(spark, target)
    }
    val result = compileWriteBody(tables, toks.drop(3), 3, name, tsCol,
      exact, idCol)
    graft.sources.EventStore.insertInto(result, target, tsCol)
    graft.sources.EventStore.readPinned(result.sparkSession, target)
  }

  /** Split a script on ';' OUTSIDE string literals; empty statements
    * (trailing ';', blank lines) drop. */
  private def splitStatements(sql: String): Seq[String] = {
    val out = Seq.newBuilder[String]; val cur = new StringBuilder
    var inStr = false
    sql.foreach {
      case '\'' => inStr = !inStr; cur += '\''
      case ';' if !inStr => out += cur.toString; cur.clear()
      case c => cur += c
    }
    if (inStr) throw ParseError("unterminated string literal in script")
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Token → source rendering (the lexer's inverse for this grammar:
    * idents are already lowercased, strings cannot contain quotes). */
  private def renderTok(t: Tok): String = t match {
    case Ident(v) => v
    case Num(v)   => v
    case Sym(v)   => v
    case Str(v)   => s"'$v'"
  }

  /** Multi-statement SCRIPT face (p116): `stmt; stmt; …` — how a real
    * user composes a pipeline without leaving SQL. create/insert/delete/
    * update/drop route to their write faces against `warehouseDir`;
    * anything else reads through [[runCatalog]]. Before EVERY statement
    * the catalog re-derives from the warehouse (manifest-pinned frames,
    * debris invisible) and overlays the caller's frames — so later
    * statements see earlier writes, and a caller frame shadowed by a
    * same-named store loses (the durable store is the truth; shadow it
    * deliberately or rename). Statements split on ';' outside string
    * literals. Returns the LAST statement's frame (write faces return
    * their pinned read-back); a script may not END with `drop table` —
    * nothing would remain to return. Read-only and streaming faces keep
    * rejecting scripts implicitly (';' never parses there). */
  def runScript(tables: Map[String, DataFrame], sql: String,
                warehouseDir: String,
                tsCol: String = Compiler.DefaultTsCol,
                exact: Boolean = false,
                idCol: Option[String] = None): DataFrame = {
    val stmts = splitStatements(sql)
    if (stmts.isEmpty) throw ParseError("empty script")
    val spark = tables.values.headOption.map(_.sparkSession)
      .getOrElse(org.apache.spark.sql.SparkSession.active)
    var last: Option[DataFrame] = None
    // script-scoped VIEWS (p126): `create view <name> as <statement>`
    // registers the statement TEXT; nothing materializes. The body
    // re-compiles against EACH later statement's fresh catalog, so a
    // view re-reads its base stores at USE time — an insert committed
    // after the view was created is visible through it (true view
    // semantics; CTAS is the materialized counterpart). Creation order
    // is kept so later views can layer on earlier ones.
    var views = Vector.empty[(String, String)]
    stmts.foreach { st0 =>
      var stToks = lex(st0)
      // TIME TRAVEL at the front door (p117): `from <name> version <k>`
      // pins that read to manifest version k (create = v0, each commit
      // +1). The pinned read rewrites to an internal catalog entry, so
      // ONE statement can read TWO versions of the same store — the
      // "what did the delete remove" diff is `select … from t version 0
      // except select … from t`. Works in ANY statement (a CTAS body
      // can read the past). A missing version fails loudly in the
      // manifest read.
      var pinned = Map.empty[String, DataFrame]
      locally {
        var i = 0
        while (i + 3 < stToks.length + 1) {
          (stToks.lift(i), stToks.lift(i + 1), stToks.lift(i + 2),
            stToks.lift(i + 3)) match {
            case (Some(Ident("from")), Some(Ident(nm)),
                  Some(Ident("version")), Some(Num(k))) =>
              val ver = k.toLongOption.getOrElse(
                throw ParseError(s"bad version number '$k'"))
              if (ver < 0) throw ParseError(s"version must be ≥ 0, got $ver")
              val alias = s"${nm}_v$ver"
              if (tables.contains(alias)) throw ParseError(
                s"version pin needs internal name '$alias', which a " +
                  "caller frame already uses — rename it")
              pinned += alias -> graft.sources.EventStore.readPinned(spark,
                warehouseDir.stripSuffix("/") + "/" + nm, ver)
              stToks = stToks.patch(i + 1, Seq(Ident(alias)), 3)
            case _ =>
          }
          i += 1
        }
      }
      val st = if (pinned.isEmpty) st0 else stToks.map(renderTok).mkString(" ")
      // The write faces' target-name guards protect CALLER frames — but
      // in a script the target is usually ALSO its own warehouse-catalog
      // entry (created two statements ago). Drop the target from the
      // OVERLAY only: a caller frame with the name still collides loudly.
      val writeTarget: Option[String] = stToks.headOption match {
        case Some(Ident("insert")) | Some(Ident("delete")) =>
          stToks.lift(2).collect { case Ident(n) => n }
        case Some(Ident("update")) =>
          stToks.lift(1).collect { case Ident(n) => n }
        case _ => None
      }
      val wcat = graft.sources.EventStore.warehouseCatalog(spark, warehouseDir)
      val cat0 = tables ++ (wcat -- writeTarget.toSeq) ++ pinned
      // overlay the views, re-compiled against THIS statement's FULL
      // catalog (write target included — `insert into t select … from
      // v_over_t` must resolve) in creation order, so views layer; a
      // view whose base store was dropped mid-script fails loudly here
      // at the next statement (drop the view first)
      val full = tables ++ wcat ++ pinned
      val cat = cat0 ++ views.foldLeft(Map.empty[String, DataFrame]) {
        case (acc, (n, body)) =>
          acc + (n -> runCatalog(full ++ acc, body, tsCol, exact, idCol)) }
      writeTarget.filter(t => views.exists(_._1 == t)).foreach { t =>
        throw ParseError(s"'$t' is a view — views are read-only; write " +
          "to the base store, or CTAS a real table") }
      last = stToks.headOption match {
        case Some(Ident("create")) if stToks.lift(1).contains(Ident("view")) =>
          val name = stToks.lift(2) match {
            case Some(Ident(n)) => n
            case other => throw ParseError(s"create view needs a name, got $other")
          }
          if (!stToks.lift(3).contains(Ident("as")))
            throw ParseError("create view spells `create view <name> as <statement>`")
          if (cat.contains(name) || views.exists(_._1 == name))
            throw ParseError(s"view name '$name' collides with an " +
              "existing table, frame, or view — views never shadow")
          val body = stToks.drop(4).map(renderTok).mkString(" ")
          if (body.isEmpty) throw ParseError("create view body is empty")
          // compile NOW against the current catalog: a broken body is a
          // front-door error at creation, not a surprise N statements in
          runCatalog(cat, body, tsCol, exact, idCol)
          views :+= ((name, body))
          None
        case Some(Ident("drop")) if stToks.lift(1).contains(Ident("view")) =>
          var p2 = 2; var ifExists = false
          if (stToks.lift(p2).contains(Ident("if"))) {
            if (!stToks.lift(p2 + 1).contains(Ident("exists")))
              throw ParseError("drop view if: expected 'exists'")
            ifExists = true; p2 += 2
          }
          val name = stToks.lift(p2) match {
            case Some(Ident(n)) => n
            case other => throw ParseError(s"drop view needs a name, got $other")
          }
          if (!views.exists(_._1 == name) && !ifExists)
            throw ParseError(s"no view named '$name' (use `drop view if " +
              "exists`, or `drop table` for a store)")
          views = views.filterNot(_._1 == name)
          None
        case Some(Ident("show")) if stToks.lift(1).contains(Ident("tables")) =>
          // `show tables` (p129): the script's catalog objects — the
          // warehouse's committed stores plus the live views — one name
          // per row, sorted. Caller-provided frames are function
          // arguments, not catalog objects, and do not list.
          if (stToks.length > 2)
            throw ParseError("show tables takes no arguments")
          val names = (wcat.keySet ++ views.map(_._1)).toSeq.sorted
          Some(spark.createDataset(names)(
            org.apache.spark.sql.Encoders.STRING).toDF("table_name"))
        case Some(Ident("create")) =>
          Some(runCreate(cat, st, warehouseDir, tsCol, exact, idCol))
        case Some(Ident("insert")) =>
          Some(runInsert(cat, st, warehouseDir, tsCol, exact, idCol))
        case Some(Ident("delete")) => Some(runDelete(cat, st, warehouseDir, tsCol))
        case Some(Ident("update")) => Some(runUpdate(cat, st, warehouseDir, tsCol))
        case Some(Ident("drop"))   => runDrop(st, warehouseDir); None
        case _ => Some(runCatalog(cat, st, tsCol, exact, idCol))
      }
    }
    last.getOrElse(throw ParseError("script ends with a statement that " +
      "returns nothing (drop table / drop view / create view) — end " +
      "with a read (or a write, whose pinned read-back returns)"))
  }

  /** `drop table [if exists] <name>` — the store's directory (data plus
    * every manifest version) deletes recursively through
    * [[graft.sources.EventStore.reset]]; time travel necessarily dies
    * with it, which is exactly why truncation-by-DELETE is rejected
    * while DROP is this explicit. A missing target is loud unless
    * `if exists`. */
  def runDrop(sql: String, warehouseDir: String): Unit = {
    val toks = lex(sql)
    if (!(toks.headOption.contains(Ident("drop")) &&
          toks.lift(1).contains(Ident("table"))))
      throw ParseError("runDrop takes `drop table [if exists] <name>`")
    var pos = 2
    var ifExists = false
    if (toks.lift(pos).contains(Ident("if"))) {
      if (!toks.lift(pos + 1).contains(Ident("exists")))
        throw ParseError(s"drop table if: expected 'exists', got ${toks.lift(pos + 1)}")
      ifExists = true; pos += 2
    }
    val name = toks.lift(pos) match {
      case Some(Ident(n)) => n
      case other => throw ParseError(s"drop table: expected a table name, got $other")
    }
    if (!name.matches("[a-z_][a-z0-9_]*"))
      throw ParseError(s"drop table: '$name' is not a valid table name")
    if (pos + 1 < toks.length)
      throw ParseError(s"trailing input after drop table: ${toks.drop(pos + 1).take(5)}")
    val target = warehouseDir.stripSuffix("/") + "/" + name
    val spark = org.apache.spark.sql.SparkSession.active
    val root = new org.apache.hadoop.fs.Path(target)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) {
      if (ifExists) return
      throw ParseError(s"drop table: no store at $target — `if exists` " +
        "makes a missing table a no-op")
    }
    graft.sources.EventStore.reset(spark, target)
  }

  /** `delete from <name> where <boolexpr>` — the destructive third of the
    * write face, routed through the COW
    * [[graft.sources.EventStore.deleteWhere]]: one distributed detection
    * pass finds the files holding matching rows, fully-matching files
    * drop from the manifest without being read, partially-matching files
    * rewrite without the matched rows, and ONE atomic manifest version
    * commits the result — old versions still time-travel to the
    * pre-delete table. The WHERE is the dialect's full boolean tree
    * (comparators, and/or/not, in/between, expression predicates);
    * scalar subqueries resolve against the catalog. A DELETE with no
    * WHERE is rejected — truncation spells `EventStore.reset`, loudly,
    * not an accidentally-unbounded predicate. Returns the post-commit
    * pinned read-back. */
  def runDelete(tables: Map[String, DataFrame], sql: String,
                warehouseDir: String,
                tsCol: String = Compiler.DefaultTsCol): DataFrame = {
    val toks = lex(sql)
    if (!(toks.headOption.contains(Ident("delete")) &&
          toks.lift(1).contains(Ident("from"))))
      throw ParseError("runDelete takes `delete from <name> where " +
        "<predicate>`")
    val name = toks.lift(2) match {
      case Some(Ident(n)) => n
      case other => throw ParseError(s"delete from: expected a table name, got $other")
    }
    if (!name.matches("[a-z_][a-z0-9_]*"))
      throw ParseError(s"delete from: '$name' is not a valid table name")
    if (tables.contains(name))
      throw ParseError(s"delete from: '$name' names a CATALOG frame — " +
        "DELETE targets warehouse stores")
    if (!toks.lift(3).contains(Ident("where")))
      throw ParseError("delete from needs a WHERE — deleting every row " +
        "spells EventStore.reset (explicitly), not an unbounded predicate")
    // parse the predicate by re-entering the statement grammar with a
    // synthetic head — token-level, so string literals can't confuse it
    val (q, p1) = parseTokens(
      Vector(Ident("select"), Ident("count")) ++ toks.drop(3), 0, nested = false)
    if (p1 < toks.length - 1)
      throw ParseError(s"trailing input after the DELETE predicate: " +
        s"${toks.drop(p1 + 1).take(5)}")
    if (q.semiJoins.nonEmpty)
      throw ParseError("delete from takes a row predicate — `in (select …)` " +
        "membership deletes spell as EventStore.deleteWhere over a " +
        "computed key set, or materialize the keys and use a literal IN")
    if (q.orderBy.nonEmpty || q.limit.nonEmpty || q.groupBy.nonEmpty ||
        q.granSet || q.seqOp.nonEmpty || q.asofJoin.nonEmpty ||
        q.equiJoins.nonEmpty || q.sessionGapSec.nonEmpty || q.slideSec.nonEmpty)
      throw ParseError("delete from takes ONLY a WHERE predicate — " +
        "ordering, limits, grouping, windows, and joins have no meaning " +
        "for a row delete")
    // a plain AND-chain parses into the reference-parity conditions list,
    // not the boolean tree — accept both spellings
    val tree = q.where.orElse(
      if (q.conditions.nonEmpty)
        Some(ConditionTree.And(q.conditions.map(ConditionTree.Leaf)): ConditionTree)
      else None
    ).getOrElse(throw ParseError("delete from needs a WHERE predicate"))
    val resolved = resolveScalarSubs(tree, tsCol, tables)
    val target = warehouseDir.stripSuffix("/") + "/" + name
    val spark = tables.headOption.map(_._2.sparkSession).getOrElse(
      org.apache.spark.sql.SparkSession.active)
    val frame = graft.sources.EventStore.readPinned(spark, target)
    graft.sources.EventStore.deleteWhere(spark, target,
      graft.compile.Predicates.compileTree(resolved, frame.schema), tsCol)
    graft.sources.EventStore.readPinned(spark, target)
  }

  /** `update <name> set <col> = <expr> [, …] where <boolexpr>` — the
    * fourth verb of the write face, through the COW
    * [[graft.sources.EventStore.updateWhere]]: one detection pass finds
    * the files holding matches, exactly those files rewrite with the
    * assignments applied (`when(pred, new).otherwise(old)` per column —
    * untouched files are never opened), one atomic manifest version
    * commits. Assignments take the measure grammar (arithmetic, scalar/
    * string/calendar functions, literals); every RHS evaluates against
    * the OLD row, and each value is cast to its column's existing type —
    * UPDATE never retypes a table (fraction-to-integer assignment
    * truncates, Spark cast semantics). A WHERE is required, like
    * [[runDelete]]. Returns the post-commit pinned read-back. */
  def runUpdate(tables: Map[String, DataFrame], sql: String,
                warehouseDir: String,
                tsCol: String = Compiler.DefaultTsCol): DataFrame = {
    val toks = lex(sql)
    if (!toks.headOption.contains(Ident("update")))
      throw ParseError("runUpdate takes `update <name> set <col> = <expr> " +
        "[, …] where <predicate>`")
    val name = toks.lift(1) match {
      case Some(Ident(n)) => n
      case other => throw ParseError(s"update: expected a table name, got $other")
    }
    if (!name.matches("[a-z_][a-z0-9_]*"))
      throw ParseError(s"update: '$name' is not a valid table name")
    if (tables.contains(name))
      throw ParseError(s"update: '$name' names a CATALOG frame — UPDATE " +
        "targets warehouse stores")
    if (!toks.lift(2).contains(Ident("set")))
      throw ParseError(s"update $name: expected 'set', got ${toks.lift(2)}")
    // find the top-level WHERE (paren-depth-aware: `round(x, 2)` commas
    // and a hypothetical nested `where` never split the SET list)
    var depth = 0
    var whereIdx = -1
    var i = 3
    while (i < toks.length && whereIdx < 0) {
      toks(i) match {
        case Sym("(") => depth += 1
        case Sym(")") => depth -= 1
        case Ident("where") if depth == 0 => whereIdx = i
        case _ => ()
      }
      i += 1
    }
    if (whereIdx < 0)
      throw ParseError("update needs a WHERE — rewriting every row " +
        "deserves an explicit predicate (`where 1 = 1` if you mean it)")
    val setToks = toks.slice(3, whereIdx)
    if (setToks.isEmpty) throw ParseError("update: empty SET list")
    // split assignments on top-level commas
    val groups = Seq.newBuilder[Vector[Tok]]
    var cur = Vector.newBuilder[Tok]
    depth = 0
    setToks.foreach {
      case Sym(",") if depth == 0 => groups += cur.result(); cur = Vector.newBuilder
      case t =>
        t match {
          case Sym("(") => depth += 1
          case Sym(")") => depth -= 1
          case _ => ()
        }
        cur += t
    }
    groups += cur.result()
    val assigns = groups.result().map { g =>
      val c = g.headOption match {
        case Some(Ident(n)) => n
        case other => throw ParseError(s"update SET: expected a column, got $other")
      }
      if (!g.lift(1).contains(Sym("=")))
        throw ParseError(s"update SET $c: expected '=', got ${g.lift(1)}")
      val exprToks = g.drop(2)
      if (exprToks.isEmpty) throw ParseError(s"update SET $c: missing the value")
      val e = exprToks match {
        // bare leaves compile directly — the select grammar refuses a
        // lone column (raw items refuse aliases) and a lone literal
        // (nothing to aggregate), but as SET values both are ordinary
        case Vector(Ident(n)) => MeasureExpr.Col(n)
        case Vector(Num(v)) => MeasureExpr.Lit(v.toDoubleOption.getOrElse(
          throw ParseError(s"update SET $c: bad numeric literal '$v'")))
        case Vector(Str(v)) => MeasureExpr.StrLit(v)
        case _ =>
          // parse the RHS by re-entering the measure grammar:
          // parenthesized, aliased — the expression-measure select-item
          // shape
          val (q, p) = parseTokens(Vector(Ident("select"), Sym("(")) ++
            exprToks ++ Vector(Sym(")"), Ident("as"), Ident("zz_set_value")),
            0, nested = false)
          if (p < exprToks.length + 5)
            throw ParseError(s"update SET $c: trailing input in the value: " +
              s"${exprToks.drop(p - 5).take(5)}")
          q.selects.headOption.flatMap(_.expr).getOrElse(
            throw ParseError(s"update SET $c: could not parse the value " +
              "as an expression"))
      }
      c -> e
    }
    val dupCols = assigns.groupBy(_._1).filter(_._2.size > 1).keys
    if (dupCols.nonEmpty)
      throw ParseError(s"update SET assigns ${dupCols.mkString(", ")} twice")
    // predicate: same re-entry as runDelete
    val (qw, pw) = parseTokens(
      Vector(Ident("select"), Ident("count")) ++ toks.drop(whereIdx), 0,
      nested = false)
    if (pw < toks.length - whereIdx + 2)
      throw ParseError(s"trailing input after the UPDATE predicate: " +
        s"${toks.drop(whereIdx + pw - 2).take(5)}")
    if (qw.semiJoins.nonEmpty || qw.orderBy.nonEmpty || qw.limit.nonEmpty ||
        qw.groupBy.nonEmpty || qw.granSet || qw.seqOp.nonEmpty ||
        qw.asofJoin.nonEmpty || qw.equiJoins.nonEmpty)
      throw ParseError("update takes ONLY a WHERE row predicate")
    val tree = qw.where.orElse(
      if (qw.conditions.nonEmpty)
        Some(ConditionTree.And(qw.conditions.map(ConditionTree.Leaf)): ConditionTree)
      else None
    ).getOrElse(throw ParseError("update needs a WHERE predicate"))
    val resolved = resolveScalarSubs(tree, tsCol, tables)
    val target = warehouseDir.stripSuffix("/") + "/" + name
    val spark = tables.headOption.map(_._2.sparkSession).getOrElse(
      org.apache.spark.sql.SparkSession.active)
    val frame = graft.sources.EventStore.readPinned(spark, target)
    val sets = assigns.map { case (c, e) =>
      require(frame.schema.fieldNames.contains(c),
        s"update: SET column '$c' does not exist (have: " +
          s"${frame.schema.fieldNames.filter(_ != "event_date").mkString(", ")})")
      val target0 = frame.schema(c).dataType
      // a BARE column RHS copies the raw column (no numeric view — a
      // string column must survive a string copy); compound expressions
      // ride the measure grammar, then cast to the column's type
      val rhs = e match {
        case MeasureExpr.Col(n) => Compiler.colRef(n)
        case other => graft.compile.Aggregates.measureCol(other, frame.schema)
      }
      c -> rhs.cast(target0)
    }.toMap
    graft.sources.EventStore.updateWhere(spark, target,
      graft.compile.Predicates.compileTree(resolved, frame.schema), sets, tsCol)
    graft.sources.EventStore.readPinned(spark, target)
  }

  /** Shared body compiler for the write faces: a full runCatalog
    * statement (CTE prefix + compound), compiled under the table rule
    * (`innerFrame` — the result feeds a TABLE, so an unwindowed
    * aggregate means per-key totals, never default tumbling buckets). */
  private def compileWriteBody(tables: Map[String, DataFrame],
                               body: Vector[Tok], offset: Int, name: String,
                               tsCol: String, exact: Boolean,
                               idCol: Option[String]): DataFrame = {
    if (body.isEmpty)
      throw ParseError(s"write statement for '$name': missing the body")
    val (ctes, p0) = parseWithPrefix(body)
    if (ctes.exists(_._1 == name))
      throw ParseError(s"'$name' also names a CTE in its own body — the " +
        "write target must be a fresh name")
    val (co, p1) = parseCompoundAt(body, p0)
    if (p1 < body.length)
      throw ParseError(s"trailing input from token ${p1 + offset}: " +
        s"${body.drop(p1).take(5)}")
    val full = ctes.foldLeft(tables) { case (acc, (n, b)) =>
      acc + (n -> runCompound(acc, b, tsCol, exact, idCol, innerFrame = true))
    }
    runCompound(full, co, tsCol, exact, idCol, innerFrame = true)
  }

  /** Compile one statement (head + any set-op branches) against a
    * by-name catalog — the shared engine under [[runCatalog]] and each
    * CTE body. `innerFrame` marks a statement whose result feeds ANOTHER
    * statement (a CTE body): an unwindowed aggregate there means per-key
    * totals (the derived-table-inner rule), never the default tumbling
    * windows no clause asked for. */
  private def runCompound(tables: Map[String, DataFrame], co: Compound,
                          tsCol: String, exact: Boolean,
                          idCol: Option[String],
                          innerFrame: Boolean = false): DataFrame = {
    // a derived FROM chains down: the INNERMOST query names the base table
    def baseName(z: graft.ir.ZxQuery): Option[String] =
      z.fromTable.orElse(z.fromSub.flatMap(baseName))
    def oneBranch(z: ZxQuery): DataFrame = {
      val from = baseName(z).getOrElse(throw ParseError(
        "runCatalog needs a `from <table>` clause to pick the base frame"))
      val df = tables.getOrElse(from, throw ParseError(
        s"unknown from table '$from' — catalog has: " +
          tables.keys.toSeq.sorted.mkString(", ")))
      runParsed(df, z, tsCol, exact, idCol, tables,
        forceSorted = (co.branches.nonEmpty || innerFrame) &&
          unwindowedAggBranch(z))
    }
    if (co.branches.isEmpty) oneBranch(co.head)
    else combineSetOps((co.head +: co.branches.map(_._2)).map(oneBranch), co)
  }

  /** An aggregate set-op branch with no ORDER BY and no explicit window
    * clause means per-key totals (the derived-table-inner rule): compound
    * statements route it through the sorted path rather than silently
    * defaulting to 300 s tumbling buckets no branch asked for. */
  private def unwindowedAggBranch(z: ZxQuery): Boolean =
    (z.selects.exists(_.agg != Agg.Raw) || z.postSelects.nonEmpty) &&
      z.orderBy.isEmpty && !z.granSet && z.sessionGapSec.isEmpty &&
      z.slideSec.isEmpty && !z.exact

  def run(df0: DataFrame, sql: String, tsCol: String = Compiler.DefaultTsCol,
          exact: Boolean = false, idCol: Option[String] = None,
          tables: Map[String, DataFrame] = Map.empty): DataFrame = {
    rejectWith(sql, "run(df, …) binds the base frame positionally and " +
      "ignores FROM (reference parity) — CTEs resolve every table by " +
      "NAME; use runCatalog(tables, sql)")
    if (lex(sql).headOption.contains(Ident("create")) ||
        lex(sql).headOption.contains(Ident("insert")))
      throw ParseError("`create table … as` / `insert into` WRITE through " +
        "a warehouse — use runCreate/runInsert(tables, sql, warehouseDir)")
    val co = parseCompound(sql)
    if (co.branches.isEmpty) runParsed(df0, co.head, tsCol, exact, idCol, tables)
    else combineSetOps((co.head +: co.branches.map(_._2))
      .map(z => runParsed(df0, z, tsCol, exact, idCol, tables,
        forceSorted = unwindowedAggBranch(z))), co)
  }

  private def runParsed(df0: DataFrame, q0: ZxQuery, tsCol: String,
                        exact: Boolean, idCol: Option[String],
                        tables: Map[String, DataFrame],
                        forceSorted: Boolean = false): DataFrame = {
    // `select *` expands HERE, against the concrete base frame (derived
    // FROM is parse-rejected, so df0 — positionally bound or
    // catalog-resolved by the caller — IS the base): the star becomes an
    // ordinary raw projection of every column, in frame order
    if (q0.star)
      return runParsed(df0, q0.copy(star = false,
        selects = df0.columns.toSeq.map(Select(Agg.Raw, _))),
        tsCol, exact, idCol, tables, forceSorted)
    // scalar subqueries → literal leaves (one tiny aggregation each, at
    // plan-build; the literal then pushes into the main scan)
    val q = q0.copy(where = q0.where.map(resolveScalarSubs(_, tsCol, tables)))
    // derived table: compile the INNER query first (any batch path — it
    // recursively resolves its own FROM, so nesting composes); the outer
    // then scans the inner's result frame. Parse already restricted the
    // outer to the time-free paths, and the dispatch below routes its
    // aggregates through the non-windowed sorted path.
    val derived = q.fromSub.nonEmpty
    val base0 = q.fromSub match {
      case Some(sub0) =>
        // The inner ORDER BY picks the non-windowed route, but under an
        // outer aggregate/filter its output ORDER is invisible — strip
        // the sort (at 100 TB an inner global sort is a full range
        // shuffle the outer destroys one operator later; Catalyst does
        // not eliminate it through our string-rendered projection). Keep
        // it when a LIMIT depends on it (top-k semantics) or when the
        // outer is a pure pass-through projection that surfaces order.
        // `forceSorted` preserves the routing the stripped ORDER BY chose.
        val outerPassThrough = q.selects.forall(_.agg == Agg.Raw) &&
          q.postSelects.isEmpty && q.orderBy.isEmpty
        val strip = sub0.orderBy.nonEmpty && sub0.limit.isEmpty &&
          sub0.limitPer.isEmpty && sub0.offset.isEmpty && !outerPassThrough
        // An aggregate inner with NO order by and NO explicit window
        // clause means per-key totals, not the reference's default 300 s
        // tumbling buckets: the outer query would otherwise silently
        // aggregate per-(key, window) rows (the q13 custdist shape minus
        // its inner ORDER BY returned window-multiplied counts with no
        // error — ADVICE r12 medium). Only an EXPLICIT granularity /
        // session / slide / exact opts a derived inner into windows.
        val innerAgg = sub0.selects.exists(_.agg != Agg.Raw) ||
          sub0.postSelects.nonEmpty
        val unwindowed = innerAgg && sub0.orderBy.isEmpty && !sub0.granSet &&
          sub0.sessionGapSec.isEmpty && sub0.slideSec.isEmpty && !sub0.exact
        val sub = if (strip) sub0.copy(orderBy = Nil) else sub0
        val innerBase = sub.fromTable.flatMap(tables.get).getOrElse(df0)
        runParsed(innerBase, sub, tsCol, exact, idCol, tables,
          forceSorted = strip || unwindowed)
      case None => df0
    }
    // membership subqueries apply to the scanned frame BEFORE anything
    // else — a semi/anti join is a row filter relationally, so every
    // downstream path (windows, sorts, joins, sequence ops) composes
    // unchanged on the filtered frame
    val df = {
      val afterSq = q.semiJoins.foldLeft(base0) { (d, sj) =>
        val sub = compileSubquery(sj.sub, tsCol, tables)
          .toDF("__sq_match") // unique name: self-joins stay unambiguous
        d.join(sub,
          Compiler.colRef(sj.column) === org.apache.spark.sql.functions.col("__sq_match"),
          if (sj.anti) "left_anti" else "left_semi")
      }
      // semi/anti join clauses (p72) are the same relational filter with
      // composite keys and derived key sets — same early application
      q.filterJoins.zipWithIndex.foldLeft(afterSq) { case (d, (fj, i)) =>
        applyFilterJoin(d, fj, i, tsCol, tables)
      }
    }
    // analytic window functions (p68): gate (WHERE pushes into the scan),
    // add every window column — items sharing one partition list share
    // ONE exchange (Catalyst collapses same-spec Window operators) —
    // then QUALIFY, then project the select-list order, then ORDER BY /
    // LIMIT. Spark rewrites a `qualify rn <= k` over row_number into
    // per-partition WindowGroupLimit, the same 100 TB-safe plan as
    // `limit per`.
    if (q.winSelects.nonEmpty) {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{row_number, rank, dense_rank, lag, lead}
      // expression projections (p71) compute BEFORE the windows, so a
      // window can partition/order by a computed column and qualify can
      // filter on it
      val base = q.selects.filter(s => s.agg == Agg.Raw && s.expr.nonEmpty)
        .foldLeft(Compiler.scanFilter(df, q, tsCol)) { (d, s) =>
          d.withColumn(s.key,
            graft.compile.Aggregates.measureCol(s.expr.get, d.schema))
        }
      val withWin = q.winSelects.foldLeft(base) { (d, w) =>
        import org.apache.spark.sql.functions.{sum, avg, min, max, count,
          first, last, ntile, lit}
        val ord = w.orderBy.map { case (c, dir) => dir match {
          case SortDir.Asc  => Compiler.colRef(c).asc
          case SortDir.Desc => Compiler.colRef(c).desc } }
        val partSpec = Window.partitionBy(w.partitionBy.map(Compiler.colRef): _*)
        // no ORDER BY (aggregate windows only — parse-guarded) = the
        // whole-partition frame; with ORDER BY, Spark's default frame is
        // SQL's (RANGE UNBOUNDED PRECEDING..CURRENT ROW — the RUNNING
        // form, ties as peers), identical to DuckDB's default
        val spec =
          if (w.orderBy.isEmpty) partSpec else partSpec.orderBy(ord: _*)
        // window aggregates are plain SQL row semantics (unweighted) —
        // the reference's weighted forms are the GROUPED aggregates;
        // numeric() keeps parse-on-demand string storage working
        def num0 = graft.compile.Aggregates.numeric(w.arg.get, d.schema)
        val e = w.func match {
          case "row_number" => row_number()
          case "rank"       => rank()
          case "dense_rank" => dense_rank()
          case "percent_rank" =>
            org.apache.spark.sql.functions.percent_rank()
          case "cume_dist" =>
            org.apache.spark.sql.functions.cume_dist()
          case "lag"        => lag(Compiler.colRef(w.arg.get), w.offset)
          case "lead"       => lead(Compiler.colRef(w.arg.get), w.offset)
          case "sum"        => sum(num0)
          case "mean"       => avg(num0)
          case "min"        => min(Compiler.colRef(w.arg.get))
          case "max"        => max(Compiler.colRef(w.arg.get))
          case "count" =>
            if (w.arg.contains("*")) count(lit(1))
            else count(Compiler.colRef(w.arg.get))
          case "first_value" => first(Compiler.colRef(w.arg.get))
          case "last_value"  => last(Compiler.colRef(w.arg.get))
          case "nth_value" =>
            org.apache.spark.sql.functions.nth_value(
              Compiler.colRef(w.arg.get), w.offset)
          case "ntile"       => ntile(w.offset)
          case other => throw ParseError(s"unknown window function '$other'")
        }
        // last-in-partition-ORDER needs the full frame — the default
        // frame would make last_value ≡ the current row. A `rows <n>
        // preceding` item (p87) takes the MOVING frame instead of the
        // default RANGE running frame (parse guarantees aggregate func +
        // order by); same spelling, same semantics in DuckDB.
        val spec2 =
          if (w.func == "last_value" || w.func == "nth_value")
            spec.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
          else (w.rowsPreceding, w.rowsFollowing) match {
            case (Some(m), Some(n)) => spec.rowsBetween(-m, n) // p115
            case (Some(m), None)    => spec.rowsBetween(-m, 0) // p87
            case _                  => spec
          }
        d.withColumn(w.alias, e.over(spec2))
      }
      val qualified = q.qualify.map(t =>
        withWin.filter(graft.compile.Predicates.compileTree(t, withWin.schema)))
        .getOrElse(withWin)
      val projected = qualified.select(q.winOutOrder.map(Compiler.colRef): _*)
      val sorted =
        if (q.orderBy.isEmpty) projected
        else projected.orderBy(q.orderBy.map { ob =>
          if (ob.select.agg != Agg.Raw)
            throw ParseError("a windowed query's ORDER BY binds output " +
              s"COLUMN names, not ${ob.select.agg.name}(...)")
          if (!q.winOutOrder.contains(ob.select.column))
            throw ParseError(s"order by '${ob.select.column}' is not in " +
              s"the windowed output (${q.winOutOrder.mkString(", ")})")
          Compiler.orderCol(Compiler.colRef(ob.select.column), ob)
        }: _*)
      val paged = q.offset.map(sorted.offset).getOrElse(sorted)
      return q.limit.map(paged.limit).getOrElse(paged)
    }
    q.seqOp.foreach { op =>
      import org.apache.spark.sql.functions._
      // the same scan/filter front half every path gets: time range +
      // conjuncts + boolean tree, pushdown intact — sequence mining over a
      // filtered slice costs a narrow filter, nothing more
      val base = Compiler.scanFilter(df, q, tsCol)
      return op match {
        case SeqOp.Journeys(k, n) =>
          graft.operators.Funnel.topJourneys(base, maxSteps = n, topK = k)
        case SeqOp.FunnelSteps(steps) =>
          graft.operators.Funnel.funnelStages(base, steps)
        case SeqOp.Decay(c, last) =>
          graft.operators.Funnel.decayedValues(base, maxEvents = last, valCol = c)
            .select(col("user_id"),
              date_format(col("__d"), "yyyy-MM-dd").as("day"),
              col("decayed_fp"), col("n_events"))
        case SeqOp.Spans(k, n) =>
          // the dialect's reach into the documents table: df is a docs
          // frame (doc_id, text, …); WHERE composes (lang/source gates)
          graft.operators.Corpus.repeatedSpans(base, n = n, topK = k)
        case SeqOp.Retention =>
          graft.operators.Funnel.cohortRetention(base)
        case SeqOp.Attribution(conv, within) =>
          graft.operators.Funnel.lastTouchAttribution(base, conv, within)
        case SeqOp.Markov(iters, distributed) =>
          if (distributed)
            graft.operators.Funnel.stationaryDistributionDistributed(base, iters = iters)
          else
            graft.operators.Funnel.stationaryDistribution(base, iters = iters)
        case SeqOp.AnomalySplit(split, factor, support) =>
          graft.operators.Anomaly.seasonalAnomalies(base, split, factor, support)
        case SeqOp.ProfileCols(cols) =>
          // classify from the INPUT schema so the face stays table-generic
          import org.apache.spark.sql.types._
          val byName = base.schema.fields.map(f => f.name -> f.dataType).toMap
          def kind(c: String) = byName.getOrElse(c,
            throw ParseError(s"profile: unknown column '$c'")) match {
            case _: NumericType => "n"
            case StringType => "s"
            case _: TimestampType | _: TimestampNTZType | DateType => "t"
            case other => throw ParseError(
              s"profile: column '$c' has unprofilable type $other")
          }
          val k = cols.groupBy(kind)
          graft.operators.Profile.profile(base,
            numeric = k.getOrElse("n", Nil), strings = k.getOrElse("s", Nil),
            timestamps = k.getOrElse("t", Nil))
        case SeqOp.Similar(k, lo, hi, pct) =>
          graft.operators.Corpus.similarDocPairs(base, topK = k,
            minDf = lo, maxDf = hi, maxDfPct = pct)
        case SeqOp.NearDup(pct) =>
          graft.operators.Dedup.minhashPairs(base, threshold = pct / 100.0)
        case SeqOp.NearDupImages(mh) =>
          // the dialect's reach into the multimodal family: BMP pack +
          // dHash are narrow maps, so WHERE composes ahead of the banded
          // Hamming join exactly like the text near-dup face
          graft.operators.Multimodal.imageNearDupPairs(
            graft.operators.Multimodal.imageDHash(
              graft.operators.Multimodal.packBmp(base)), maxHamming = mh)
        case SeqOp.Trend(c) =>
          graft.operators.Funnel.linearTrend(base, valCol = c)
        case SeqOp.Knn(k, qid) =>
          // the dialect's reach into the embeddings table; cos rounded to
          // 6dp like the s1 row (float-sum parity band with the replay)
          graft.operators.Similarity.bruteForceKnn(base, queryId = qid, k = k)
            .withColumn("cos", round(col("cos"), 6))
        case SeqOp.KnnIndex(ixName, centName, k, qid, nProbe, booksT, slOpt) =>
          // READ-ONLY probe of a prebuilt index: no training, no O(corpus)
          // scan — a missing or un-built index fails with words, never a
          // silent brute-force fallback (VERDICT r12 #2). The WHERE gate
          // ALSO prunes the index scan (filtered ANN, the s12 shape):
          // the same predicate tree compiles against the index frame,
          // INSIDE the cell-pruned read, BEFORE the top-k. An index whose
          // rows carry PQ `codes` routes through the ADC scan (LUT
          // lookups, no dot products) + exact re-rank of the shortlist;
          // its codebooks resolve like centroids do (`<index>_books`).
          val (ix, cents) = resolveIvfIndex(ixName, centName, tables)
          val qv = queryVecFromBase(base, qid)
          val gatedIx = Compiler.scanFilter(ix, q, tsCol)
          if (ix.columns.contains("codes")) {
            val bn = booksT.getOrElse(ixName + "_books")
            val booksDf = tables.getOrElse(bn, throw ParseError(
              s"unknown codebook table '$bn' — a PQ index probe needs " +
                "its trained codebooks (Similarity.booksToDF artifact); " +
                "register it in the catalog or name one with `books <table>`"))
            val books = graft.operators.Similarity.collectBooks(booksDf)
            graft.operators.Similarity.ivfPqProbeFrame(gatedIx, cents, books,
                qv, k = k, nProbe = nProbe, shortlist = slOpt.getOrElse(100))
              .withColumn("adc", round(col("adc"), 6))
              .withColumn("cos", round(col("cos"), 6))
          } else {
            booksT.foreach(_ => throw ParseError(
              s"'$ixName' has no PQ codes column — `books` applies to " +
                "IVF-PQ indexes (ivfPqWriteIndex artifacts) only"))
            slOpt.foreach(_ => throw ParseError(
              s"'$ixName' has no PQ codes column — `shortlist` sizes the " +
                "ADC rescue of an IVF-PQ probe; the IVF probe is already " +
                "exact within its cells"))
            graft.operators.Similarity.ivfProbeFrame(gatedIx, cents, qv,
                k = k, nProbe = nProbe)
              .withColumn("cos", round(col("cos"), 6))
          }
        case SeqOp.MmrIndex(ixName, centName, k, qid, shortlist, nProbe) =>
          // same read-only resolution; the shortlist comes from the
          // pruned probe, the greedy walk is the brute face's exact loop
          val (ix, cents) = resolveIvfIndex(ixName, centName, tables)
          val qv = queryVecFromBase(base, qid)
          val gatedIx = Compiler.scanFilter(ix, q, tsCol)
          graft.operators.Similarity.mmrRerankIndexed(gatedIx, cents, qv,
            k = k, shortlist = shortlist, nProbe = nProbe)
        case SeqOp.Mmr(k, qid, shortlist) =>
          graft.operators.Similarity.mmrRerank(base, queryId = qid, k = k,
            shortlist = shortlist)
        case SeqOp.MmrBatch(k, qids, shortlist) =>
          graft.operators.Similarity.mmrRerankBatch(base, queryIds = qids,
            k = k, shortlist = shortlist)
        case SeqOp.NearDupAudio(mh) =>
          graft.operators.Multimodal.bandedHammingPairs(
            graft.operators.Multimodal.audioFingerprint(
              graft.operators.Multimodal.packWav(base)), maxHamming = mh)
        case SeqOp.NearDupVideo(shared) =>
          // binary pack + frame sampling are narrow maps, so WHERE
          // composes ahead of the digest-equality blocking join — the
          // video-shaped third face of the multimodal dedup family
          graft.operators.Multimodal.frameNearDupPairs(
            graft.operators.Multimodal.sampleFrames(
              graft.operators.Multimodal.packBinary(base)),
            minShared = shared)
        case SeqOp.Scenes =>
          graft.operators.Multimodal.sceneChanges(
            graft.operators.Multimodal.sampleFrames(
              graft.operators.Multimodal.packBinary(base)))
        case SeqOp.Mixture(budgets, score) =>
          // WHERE has already gated `base`, so budgets fill from the
          // SURVIVORS — quality-gate-then-mix in one statement; with a
          // score clause the fill is best-first instead of hash-ordered
          score match {
            case Some((c, scale)) =>
              graft.operators.Corpus.mixtureByTokenBudgetScored(base,
                budgets.toMap,
                Compiler.colRef(c).cast("double") / lit(scale.toDouble))
            case None =>
              graft.operators.Corpus.mixtureByTokenBudget(base, budgets.toMap)
          }
        case op @ (_: SeqOp.SampleRows | _: SeqOp.SampleWeight |
                   _: SeqOp.SampleExact) =>
          // gate-then-sample: the rate forms are narrow filters (scan-
          // stage work at 100 TB); the exact form is one per-partition
          // TakeOrdered over the gated scan; text stays pruned
          compileSample(op, base)
        case SeqOp.Pack(budget) =>
          // one window per source — the x7 packing shape at the front door
          graft.operators.Corpus.packByTokenBudget(base, budget)
        case SeqOp.Chunks(size, stride) =>
          // stateless narrow explode (~n/stride rows per doc, zero shuffles)
          graft.operators.Corpus.chunkByWindow(base, size, stride)
        case op: SeqOp.LmScore =>
          // train on the ref slice of the gated frame (or of a static
          // `train` catalog table), score the gated frame — "gate the
          // corpus, pick the high-quality slice, rank everything by
          // fluency under it" is one statement; scoring is the
          // broadcast-map fold (no join, no shuffle — PlanSpec)
          compileLmScore(op, base, tables)
        case SeqOp.Curriculum(c, scale, shards) =>
          // exact global ranks from bounded pieces (no corpus-wide sort) —
          // WHERE gates the corpus BEFORE ranking, so shards cut the
          // survivors
          graft.operators.Corpus.curriculumShards(base,
            Compiler.colRef(c).cast("double") / lit(scale.toDouble), shards)
        case SeqOp.DedupExact =>
          // one count shuffle on the 16-hex fingerprint, never the text
          graft.operators.Dedup.exactGroups(base)
        case SeqOp.DedupNormalized =>
          graft.operators.Dedup.exactGroupsNormalized(base)
        case SeqOp.Decontaminate(srcs, n, h) =>
          // benchmark slice = the named sources OF THE GATED FRAME; the
          // broadcast keeps the corpus side shuffle-free (overlapReport)
          graft.operators.Decontaminate.overlapReport(base,
            col("source").isin(srcs: _*), shingleN = n, minHits = h)
        case op @ (SeqOp.Quality | _: SeqOp.Redact | SeqOp.LangId) =>
          // stateless narrow maps — scan-stage work at any scale
          compileDocMap(op, base)
        case SeqOp.NearDupEmbeddings(pct) =>
          // label-blocked cosine pairs over an embeddings frame; maxBlock
          // caps the per-label quadratic like the d5 API path
          graft.operators.Dedup.embeddingPairs(base, threshold = pct / 100.0)
            .withColumn("cos", round(col("cos"), 6))
        case SeqOp.Argmax(v, idc) =>
          // deterministic argmax (the a15 aggregate): max(struct(value, id))
          // — lexicographic struct max makes the id a total tiebreak while
          // staying ONE codegen'd aggregate with map-side partial max;
          // null values are excluded (a null field would poison the
          // lexicographic compare), mirrored in the oracle
          base.filter(Compiler.colRef(v).isNotNull)
            .groupBy(Compiler.groupKeys(q, base.schema): _*)
            .agg(max(struct(Compiler.colRef(v), Compiler.colRef(idc))).as("__m"),
              count(lit(1)).as("n"))
            .select(q.groupBy.map(Compiler.colRef) ++ Seq(
              col("__m").getField(v).as(s"max_$v"),
              col("__m").getField(idc).as(s"argmax_$idc"),
              col("n")): _*)
      }
    }
    q.asofJoin.foreach { js =>
      if (q.groupBy.nonEmpty || q.orderBy.nonEmpty || q.limit.nonEmpty)
        throw ParseError("asof/trailing join queries do not take group by / order by / limit")
      val right = tables.getOrElse(js.table, throw ParseError(
        s"unknown join table '${js.table}' — pass it via run(..., tables = Map(...))"))
      // left = the reference scan/filter/project pipeline, then one
      // single-exchange asof or trailing window (AsofJoin scaladoc).
      // COMPOSITE keys (p61) compile to ONE struct column per side — the
      // window still partitions on a single expression, so the operator
      // keeps its single exchange; the internal key is dropped after.
      import org.apache.spark.sql.functions.struct
      val left0 = Compiler.runRaw(df, q.copy(limit = None), tsCol)
      val composite = js.moreKeys.nonEmpty
      val lKeys = js.keyL +: js.moreKeys.map(_._1)
      val rKeys = js.keyR +: js.moreKeys.map(_._2)
      // POSITIONAL field aliases (k0, k1, …) on BOTH sides: the operator
      // unions the sides by name, and unionByName resolves NESTED struct
      // fields by name too — differently-named key fields would null out
      // one side's key and silently match nothing (caught by the p61 spec)
      def keyStruct(cols: Seq[String]) = struct(cols.zipWithIndex.map {
        case (c, i) => Compiler.colRef(c).as(s"k$i") }: _*)
      val (left, kl2) =
        if (!composite) (left0, js.keyL)
        else (left0.withColumn("__ckl", keyStruct(lKeys)), "__ckl")
      val (rightK, kr2) =
        if (!composite) (right, js.keyR)
        else (right.withColumn("__ckr", keyStruct(rKeys)), "__ckr")
      return js.trailingSec match {
        case None =>
          val latest = graft.operators.AsofJoin.latestPerKeyTime(
            rightK, kr2, js.timeR, js.payload.head)
          val out = graft.operators.AsofJoin.asof(left, latest,
            kl2, kr2, js.timeL, js.timeR, js.payload)
          if (composite) out.drop("__ckl") else out
        case Some(w) =>
          import org.apache.spark.sql.functions.{sum, count, min, max, avg, col}
          val aggs = js.aggs.map(sel => sel.key -> (sel.agg match {
            case Agg.Sum   => sum(col(sel.column))
            case Agg.Count => count(col(sel.column))
            case Agg.Min   => min(col(sel.column))
            case Agg.Max   => max(col(sel.column))
            case Agg.Mean  => avg(col(sel.column))
            case other     => throw ParseError(s"unsupported trailing agg ${other.name}")
          })).toMap
          // the raw right key columns would ride the union as dead weight
          // (and could collide with left names) — the struct carries them
          val rightT = if (composite) rightK.drop(rKeys: _*) else rightK
          val out = graft.operators.AsofJoin.trailingWindow(left, rightT,
            kl2, kr2, js.timeL, js.timeR, w, aggs)
          if (composite) out.drop("__ckl") else out
      }
    }
    if (q.equiJoins.nonEmpty) {
      // the time range binds the LEFT scan pre-join (it is the left
      // table's clock); WHERE waits until after the joins, over the
      // joined schema, so Catalyst pushes each predicate down to
      // whichever side it references — a filter on a dim column prunes
      // the dim scan underneath the join, not the join output
      var cur = Compiler.scanFilter(df,
        q.copy(conditions = Nil, where = None), tsCol)
      for ((j, i) <- q.equiJoins.zipWithIndex) {
        val (right, rk) = j.sub match {
          case Some(z) =>
            val (frame, uniq) = compileJoinSub(z, j.keyR, i, tsCol, tables,
              fallback = Some(df))
            // a measure alias shadowing an existing column would make the
            // outer WHERE's reference ambiguous — refuse loudly
            z.selects.map(_.key).find(cur.columns.contains).foreach(m =>
              throw ParseError(s"join-subquery measure '$m' collides with " +
                "an existing column — alias it"))
            (frame, uniq)
          case None => (tables.getOrElse(j.table, throw ParseError(
            s"unknown join table '${j.table}' — pass it via run(..., tables = Map(...))")),
            j.keyR)
        }
        cur = cur.join(right,
          ((j.keyL, rk) +: j.moreKeys).map { case (l, r) =>
            Compiler.colRef(l) === Compiler.colRef(r) }.reduce(_ && _),
          j.joinType)
        if (j.sub.nonEmpty) cur = cur.drop(rk)
      }
      // default: plain grouped aggregation (the sorted path: group keys
      // surface, deterministic order) — no time windows; with an explicit
      // `session`/`slide` clause the joined frame windows instead (the
      // enrich-then-window shape, same routing as un-joined queries). AQE
      // picks the join strategies from actual post-filter sizes.
      val q2 = q.copy(tStart = None, tEnd = None)
      return if (q.sessionGapSec.nonEmpty) Compiler.runSession(cur, q2, tsCol)
      else if (q.slideSec.nonEmpty) Compiler.runHopping(cur, q2, tsCol)
      else Compiler.runSorted(cur, q2, tsCol)
    }
    if (q.orderBy.exists(_.select.agg == Agg.Heatmap))
      throw ParseError("cannot order by heatmap(...)")
    if (q.having.nonEmpty || q.havingTree.nonEmpty) {
      if (q.selects.forall(_.agg == Agg.Raw) && q.postSelects.isEmpty)
        throw ParseError("having needs an aggregate query")
      if (exact || q.exact)
        throw ParseError("having is not supported with exact gap windows")
      if (q.selects.exists(_.agg == Agg.Heatmap))
        throw ParseError("having is not supported with heatmap(...)")
    }
    if (q.selects.exists(_.agg == Agg.Heatmap)) {
      if (q.selects.size != 1 || q.postSelects.nonEmpty)
        throw ParseError("heatmap(col) must be the only select item")
      Compiler.adaptiveHeatmap(df, q, q.selects.head.column, tsCol = tsCol)
    } else if (q.selects.forall(_.agg == Agg.Raw) && q.postSelects.isEmpty) {
      // raw projection; ORDER BY here sorts the projected columns directly
      q.orderBy.find(_.select.agg != Agg.Raw).foreach(ob => throw ParseError(
        s"cannot order a bare-column select by aggregate ${ob.select.agg.name}(...)"))
      val projected = q.explodeCol match {
        case Some((src, sep, alias)) =>
          // generator path (p85): WHERE gates first (pushdown intact —
          // the alias is invisible to it by SQL visibility), then ONE
          // narrow explode (zero shuffles), then the projection. The
          // separator is literal on both engines (regex-quoted here;
          // DuckDB string_split never regexes).
          import org.apache.spark.sql.functions.{explode, split}
          val filtered = Compiler.scanFilter(df, q.copy(limit = None), tsCol)
          val exploded = filtered.withColumn(alias,
            explode(split(Compiler.colRef(src),
              java.util.regex.Pattern.quote(sep))))
          exploded.select(
            Compiler.rawProjection(q.selects, exploded.schema): _*)
        case None => Compiler.runRaw(df, q.copy(limit = None), tsCol)
      }
      // `select distinct` dedups the projection BEFORE order/limit — one
      // shuffle on the (already narrow) projected columns
      val base = if (q.distinctRows) projected.distinct() else projected
      val ord = q.orderBy.map(ob =>
        Compiler.orderCol(Compiler.colRef(ob.select.column), ob))
      val sorted = if (ord.nonEmpty) base.orderBy(ord: _*) else base
      (q.limit, q.limitPer) match {
        case (Some(k), Some(per)) =>
          // raw top-k per partition (the o3 shape at the front door):
          // rank window + rn<=k — WindowGroupLimit keeps it scalable.
          // The remaining SELECTED columns append as ascending tiebreaks
          // (the aggregate path's group-key discipline): a user ORDER BY
          // that doesn't totally order rows within a partition would
          // otherwise make the cut partitioning-dependent luck
          // (ADVICE r12 low).
          import org.apache.spark.sql.functions.{col, row_number}
          val obNamed = q.orderBy.map(_.select.column).toSet
          val ties = q.selects.map(_.key)
            .filterNot(c => obNamed.contains(c) || c == per)
            .map(Compiler.colRef(_).asc)
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(Compiler.colRef(per)).orderBy(ord ++ ties: _*)
          base.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") <= k).drop("__rn")
            .orderBy(ord ++ ties: _*)
        case (Some(k), None) =>
          // pagination (p105): one CollectLimit boundary carries both
          q.offset.map(sorted.offset).getOrElse(sorted).limit(k)
        case (None, None) if q.offset.nonEmpty => sorted.offset(q.offset.get)
        case _ => sorted
      }
    } else if (q.orderBy.nonEmpty || q.rollup || q.cube ||
        q.groupingSets.nonEmpty || derived || forceSorted)
      // `derived`: an outer aggregate over a derived table ALWAYS takes
      // the sorted (non-windowed) path — there is no timestamp to bucket.
      // `forceSorted`: an inner query whose ORDER BY was stripped keeps
      // the non-windowed routing that ORDER BY selected, minus the
      // now-pointless output sort.
      Compiler.runSorted(df, q, tsCol,
        sortOutput = q.orderBy.nonEmpty || !forceSorted)
    else if (q.sessionGapSec.nonEmpty) {
      if (exact) throw ParseError("session windows are mutually exclusive with exact")
      Compiler.runSession(df, q, tsCol)
    }
    else if (exact || q.exact) {
      // `salt` on the exact walk = the run-decomposed parallel plan (the
      // walk restarts at every predecessor-gap > granularity, a provable
      // anchor — results identical, skewed groups fan out across runs)
      if (q.skewSalt.isDefined) GapWindows.parallel(df, q, tsCol, idCol)
      else GapWindows(df, q, tsCol, idCol)
    }
    else Compiler.runUnsorted(df, q, tsCol)
  }

  /** Parse + route onto the STREAMING aggregators — the same query language
    * as [[run]], executed continuously over an unbounded DataFrame: `session`
    * → [[graft.streaming.EventStream.sessionAgg]], `slide` → hoppingAgg,
    * trailing `exact` → the stateful [[graft.streaming.GapWindowStream]]
    * walk, all-Raw select → rawStream (the `tail -f` projection), otherwise
    * tumbling [[graft.streaming.EventStream.windowedAgg]]. Every construct
    * routes through the SAME parser and the same predicate/aggregate
    * compilers as batch, so a query string gives identical per-window
    * results on both engines. Constructs without a streaming meaning are
    * rejected at parse level: ORDER BY / LIMIT (no total order on an
    * unbounded source), asof/trailing joins (use foreachBatch), heatmap
    * (needs data-adaptive bounds over the full range). */
  def runStream(stream0: DataFrame, sql: String, watermark: String = "10 minutes",
                tsCol: String = Compiler.DefaultTsCol,
                tables: Map[String, DataFrame] = Map.empty): DataFrame = {
    import graft.streaming.{EventStream, GapWindowStream}
    locally {
      rejectWith(sql, "CTEs compose BOUNDED statements — a batch shape; " +
        "run per micro-batch via foreachBatch over ZxSql.runCatalog")
      if (lex(sql).headOption.contains(Ident("create")) ||
          lex(sql).headOption.contains(Ident("insert")))
        throw ParseError("`create table … as` / `insert into` materialize " +
          "a BOUNDED " +
          "result — a batch shape; a continuous ingest is the streaming " +
          "sink path (writeStream / EventStore.appendCommitted per batch), " +
          "not CTAS")
      if (parseCompound(sql).branches.nonEmpty)
        throw ParseError("set operations (union/except/intersect) compose " +
          "BOUNDED frames — a batch shape; run per micro-batch via " +
          "foreachBatch over ZxSql.run, or union the source streams upstream")
    }
    val q00 = parse(sql)
    // `select *` on a stream: same whole-row expansion as batch, against
    // the stream's own columns — the raw tail is stateless, so it streams
    val q0 = if (q00.star) q00.copy(star = false,
      selects = stream0.columns.toSeq.map(Select(Agg.Raw, _))) else q00
    // scalar subqueries resolve ONCE against the static tables at stream
    // construction — `where value > (select p99(value) from history)` is
    // a legitimate streaming gate with a fixed threshold
    val q = q0.copy(where = q0.where.map(resolveScalarSubs(_, tsCol, tables)))
    // semi/anti joins STREAM (p72): a stream-static left_semi/left_anti
    // probe of a STATIC key set is stateless — each micro-batch probes the
    // fixed keys, exactly like the stream-static equi enrich. The filter
    // wraps the source before any routing, so every downstream construct
    // (windows, samples, raw tail) composes on the filtered stream.
    val stream = {
      q.filterJoins.find(fj => fj.sub.isEmpty &&
          tables.get(fj.table).exists(_.isStreaming)).foreach(fj =>
        throw ParseError(s"semi/anti-join table '${fj.table}' is a stream — " +
          "the filter probes a STATIC key set (stream-stream joins need " +
          "their own watermark contract; use foreachBatch)"))
      q.filterJoins.zipWithIndex.foldLeft(stream0) { case (d, (fj, i)) =>
        applyFilterJoin(d, fj, i, tsCol, tables)
      }
    }
    if (q.fromSub.nonEmpty)
      throw ParseError("a derived table is a bounded two-level aggregation " +
        "— run it per micro-batch via foreachBatch over ZxSql.run")
    q.seqOp.foreach {
      case op @ (_: SeqOp.SampleRows | _: SeqOp.SampleWeight) =>
        // a corpus op with a streaming meaning: a deterministic RATE
        // sample is a STATELESS narrow filter, so append mode just works —
        // gate (WHERE) then sample, exactly the batch semantics per row
        return compileSample(op, Compiler.scanFilter(stream, q, tsCol))
      case _: SeqOp.SampleExact =>
        throw ParseError("sample exact is a GLOBAL rank over a bounded " +
          "frame — batch shape (an unbounded stream has no stable " +
          "smallest-n); use the rate forms (pct/weight) on streams")
      case SeqOp.Chunks(size, stride) =>
        // likewise stateless: a row-local explode into context windows
        return graft.operators.Corpus.chunkByWindow(
          Compiler.scanFilter(stream, q, tsCol), size, stride)
      case op @ (SeqOp.Quality | _: SeqOp.Redact | SeqOp.LangId) =>
        // stateless per-row maps stream like `sample`/`chunks`
        return compileDocMap(op, Compiler.scanFilter(stream, q, tsCol))
      case op: SeqOp.LmScore if op.train.nonEmpty =>
        // the trained form streams: the model is fixed at stream
        // construction (static `train` table) and the scoring fold is a
        // stateless per-row expression — live quality-scoring of an
        // ingest stream in append mode
        return compileLmScore(op, Compiler.scanFilter(stream, q, tsCol), tables)
      case _: SeqOp.LmScore =>
        throw ParseError("streaming lmscore needs `train <table>` — the " +
          "model cannot train on an unbounded source; pass a static " +
          "reference table via tables = Map(...)")
      case _ =>
        throw ParseError("sequence/corpus ops (journeys, funnel, decay, argmax, " +
          "retention, attribution, markov, anomaly, profile, trend, spans, " +
          "similar, neardup, scenes, knn, mmr, mixture, pack, lmscore, " +
          "curriculum, dedup, decontaminate) need a bounded " +
          "frame — run them per micro-batch via foreachBatch over ZxSql.run, " +
          "or batch (sample, chunks, quality, redact, and trained lmscore " +
          "stream: stateless row-local ops)")
    }
    q.asofJoin.foreach { js =>
      // asof enrichment streams via the broadcast formulation: the deduped
      // version history rides in the plan (AsofJoin.asofBroadcast), so the
      // probe is stateless and append-mode just works. Trailing joins
      // aggregate over a time range — that needs state; batch per
      // micro-batch via foreachBatch instead.
      if (js.trailingSec.nonEmpty)
        throw ParseError("trailing joins return per-micro-batch results, not a " +
          "continuous DataFrame — use AsofJoin.trailingWindowStream(stream, " +
          "right, ...)(consume), the tested foreachBatch helper")
      if (q.groupBy.nonEmpty || q.orderBy.nonEmpty || q.limit.nonEmpty)
        throw ParseError("asof join queries do not take group by / order by / limit")
      val right = tables.getOrElse(js.table, throw ParseError(
        s"unknown join table '${js.table}' — pass it via runStream(..., tables = Map(...))"))
      // COMPOSITE keys stream too (round 14; was batch-only): the
      // plan-literal history map's keys become positional-field struct
      // literals and the probe is the same-shaped struct of stream
      // columns — still stateless, still no exchange
      // (AsofJoin.asofBroadcastKeys scaladoc)
      val lKeys = js.keyL +: js.moreKeys.map(_._1)
      val rKeys = js.keyR +: js.moreKeys.map(_._2)
      val latest = graft.operators.AsofJoin.latestPerKeysTime(
        right, rKeys, js.timeR, js.payload.head)
      return graft.operators.AsofJoin.asofBroadcastKeys(
        EventStream.rawStream(stream, q.copy(asofJoin = None, limit = None), tsCol),
        latest, lKeys, rKeys, js.timeL, js.timeR, js.payload)
    }
    if (q.semiJoins.nonEmpty)
      throw ParseError("in (select …) joins a membership set built from a " +
        "bounded table — run per micro-batch via foreachBatch over " +
        "ZxSql.run, or pre-filter the stream upstream")
    if (q.equiJoins.nonEmpty) {
      // WINDOWED equi-joins stream: a stream-static join is stateless
      // (each micro-batch probes the static dims), so `join … slide/
      // session …` is the canonical streaming enrich-then-window. An
      // UNWINDOWED join roll-up stays a batch shape.
      if (q.sessionGapSec.isEmpty && q.slideSec.isEmpty)
        throw ParseError("equi-join roll-ups aggregate an unwindowed join — " +
          "that is a batch shape; run per micro-batch via foreachBatch over " +
          "ZxSql.run, stream-enrich with an asof join, or add a window " +
          "clause (slide/session) for the windowed stream-static enrich")
      // the watermark rides the RAW stream, UPSTREAM of the join: an
      // event the join drops (dim miss) must still advance the clock, or
      // the windows containing the stream's tail never finalize — caught
      // by the st_enrich oracle replay, whose sentinel row has no
      // matching dim key by construction
      import org.apache.spark.sql.functions.timestamp_seconds
      import org.apache.spark.sql.types.LongType
      var cur =
        if (q.sessionGapSec.nonEmpty)
          stream.withColumn("__sec",
            timestamp_seconds(Compiler.colRef(tsCol).cast(LongType)))
            .withWatermark("__sec", watermark)
        else stream.withWatermark(tsCol, watermark)
      for ((j, i) <- q.equiJoins.zipWithIndex) {
        val (right, rk) = j.sub match {
          case Some(z) =>
            // a derived join side on a stream: the per-key aggregate
            // frame computes ONCE from a STATIC catalog table at stream
            // construction (no fallback — grouping the stream itself
            // would be a different, stateful query)
            compileJoinSub(z, j.keyR, i, tsCol, tables, fallback = None)
          case None => (tables.getOrElse(j.table, throw ParseError(
            s"unknown join table '${j.table}' — pass it via runStream(..., tables = Map(...))")),
            j.keyR)
        }
        if (right.isStreaming)
          throw ParseError(s"join table '${j.table}' is a stream — the " +
            "windowed enrich joins STATIC dimension tables (stream-stream " +
            "joins need their own watermark contract; use foreachBatch)")
        if (j.joinType == "right_outer" || j.joinType == "full_outer")
          throw ParseError("right/full outer joins against a streaming left " +
            "are unsupported by Structured Streaming (the static side's " +
            "unmatched rows would need end-of-stream knowledge) — batch " +
            "shape; run per micro-batch via foreachBatch over ZxSql.run")
        cur = cur.join(right,
          ((j.keyL, rk) +: j.moreKeys).map { case (l, r) =>
            Compiler.colRef(l) === Compiler.colRef(r) }.reduce(_ && _),
          j.joinType)
        if (j.sub.nonEmpty) cur = cur.drop(rk)
      }
      return if (q.sessionGapSec.nonEmpty)
        EventStream.sessionAgg(cur, q, watermark, tsCol, preWatermarked = true)
      else EventStream.hoppingAgg(cur, q, watermark, tsCol, preWatermarked = true)
    }
    if (q.distinctRows)
      throw ParseError("select distinct has no streaming meaning — a " +
        "streaming dedup holds unbounded state; use `dedup` per micro-batch " +
        "via foreachBatch, or the streaming dedup operator with a watermark")
    if (q.winSelects.nonEmpty)
      throw ParseError("window functions (row_number/rank/lag/…) rank a " +
        "BOUNDED partition — a streaming rank is unbounded state; run per " +
        "micro-batch via foreachBatch over ZxSql.run")
    if (q.orderBy.nonEmpty)
      throw ParseError("order by has no streaming meaning (no total order on an unbounded source)")
    if (q.limit.nonEmpty)
      throw ParseError("limit has no streaming meaning — use tailConsole(numRows = ...) for a bounded live view")
    if (q.selects.exists(_.agg == Agg.Heatmap))
      throw ParseError("heatmap's adaptive bounds need the full value range — " +
        "on a stream use EventStream.heatmapAgg with explicit [lo, hi) bounds")
    if (q.skewSalt.nonEmpty)
      throw ParseError("salt is batch-only: the streaming aggregations shard " +
        "state by group key and have no salted form")
    if (q.rollup || q.cube || q.groupingSets.nonEmpty)
      throw ParseError("rollup/cube/sets are batch-only: subtotal levels would " +
        "need per-level streaming state — aggregate per level downstream instead")
    if (q.selects.forall(_.agg == Agg.Raw) && q.postSelects.isEmpty)
      EventStream.rawStream(stream, q, tsCol)
    else if (q.sessionGapSec.nonEmpty) EventStream.sessionAgg(stream, q, watermark, tsCol)
    else if (q.slideSec.nonEmpty) EventStream.hoppingAgg(stream, q, watermark, tsCol)
    else if (q.exact) {
      if (q.having.nonEmpty || q.havingTree.nonEmpty)
        throw ParseError("having is not supported with exact gap windows")
      import org.apache.spark.sql.functions.{col, element_at}
      // reshape GwOut (key, w_start, w_end, values[]) to the batch
      // GapWindows schema (group cols…, w_start, w_end, one column per
      // select) so one SQL string yields one schema on both engines; the
      // key is a structural array<string> (one element per group column),
      // so reshaping is indexing, not separator splitting
      val gw = GapWindowStream(stream, q, watermark, tsCol).toDF()
      val keyCols = q.groupBy.zipWithIndex.map { case (g, i) =>
        element_at(col("key"), i + 1).as(g) }
      val aggCols = q.selects.zipWithIndex.map { case (s, i) =>
        element_at(col("values"), i + 1).as(s.key) }
      gw.select(keyCols ++ Seq(col("w_start"), col("w_end")) ++ aggCols: _*)
    } else EventStream.windowedAgg(stream, q, watermark, tsCol)
  }

  /** One query language, batch or stream, SAME output shape: run a windowed
    * query continuously ([[runStream]]) and hand each micro-batch of CLOSED
    * windows to `consume` as the reference's nested JSON document
    * (lib.rs:841-843 — the payload `ZX.SQL` returns over RESP), shaped by
    * [[graft.sources.JsonResult.toReferenceJson]]. A reference user's
    * result-parsing code works unchanged against the live stream; batch
    * [[run]] + the same shaper yields the identical document for the same
    * closed windows (spec-pinned).
    *
    * Append-mode semantics: each document covers the windows the watermark
    * finalized in that trigger — a delta, not a running restatement, so
    * `consume` fires once per closed window set (empty micro-batches are
    * skipped). The shaping collects only those group-sized finalized rows,
    * never raw events. Aggregate queries only: a Raw projection has no
    * window arrays to shape — use [[graft.streaming.EventStream.tailConsole]]
    * for the live raw view.
    *
    * Returns the unstarted writer: callers pick trigger/checkpoint and
    * `.start()`. */
  def runStreamJson(stream: DataFrame, sql: String,
                    watermark: String = "10 minutes",
                    tsCol: String = Compiler.DefaultTsCol)(
      consume: String => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    locally {
      rejectWith(sql, "CTEs compose BOUNDED statements — a batch shape; " +
        "foreachBatch over ZxSql.runCatalog")
      if (parseCompound(sql).branches.nonEmpty)
        throw ParseError("set operations (union/except/intersect) compose " +
          "BOUNDED frames — a batch shape; foreachBatch over ZxSql.run")
    }
    val q = parse(sql)
    if (q.selects.forall(_.agg == Agg.Raw) && q.postSelects.isEmpty)
      throw ParseError("the JSON result shape needs windows — raw projections stream via tailConsole")
    val out = runStream(stream, sql, watermark, tsCol)
    out.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // ONE action per trigger: the shaper's collect is the only
        // execution of the micro-batch plan (an isEmpty pre-check would
        // run the whole aggregation twice); empty deltas are dropped after
        val doc = graft.sources.JsonResult.toReferenceJson(
          batch, q.groupBy, q.selects, q.postSelects)
        if (doc != "{}") consume(doc)
      }
  }
}
