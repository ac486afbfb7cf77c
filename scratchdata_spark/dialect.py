"""DuckDB-dialect compatibility for the Spark SQL passthrough.

The reference forwards user SQL verbatim to its default backend —
DuckDB (pkg/util/sql.go:9-13, pkg/destinations/duckdb/query.go) — so
a reference user's saved queries are written in DuckDB's dialect.
Spark 4 already parses a large slice of it natively (GROUP BY ALL /
ORDER BY ALL, ``* EXCEPT (...)``, ``::`` casts, ILIKE, ``len``); this
module closes the most common remaining gaps so those queries run
unchanged:

* **SQL-function aliases** (registered once per session as Spark SQL
  UDFs — inlined JVM expressions, NOT Python UDFs): ``epoch_us``,
  ``epoch_ms``, ``epoch``, ``string_split`` (literal separator, via
  ``\\Q..\\E`` regex quoting), ``regexp_matches``, ``list_sum``.
  ``list_sort`` and friends are NOT typed-UDF aliases (a typed SQL
  UDF would coerce numeric arrays to strings and sort
  lexicographically); they bridge as TEXT rewrites instead — the
  wrapped-call pass (``_WRAPPED_CALLS``) emits ``array_sort`` /
  ``sort_array(x, false)`` / NULL-filtered counts with DuckDB's
  probed NULL semantics intact.
* **Token rewrites** applied outside string literals and comments:
  ``* EXCLUDE (...)`` → ``* EXCEPT (...)``, ``//`` → ``DIV``,
  ``list_value(`` → ``array(``, ``list_contains(`` →
  ``array_contains(``, ``USING SAMPLE n% / n ROWS`` → ``TABLESAMPLE``.
* **Round-4 growth** (each documented at its pass): ``* REPLACE``,
  trailing commas, ``try_strptime``, in-argument ordered aggregates,
  list comprehensions, prefix aliases, integer subscripts →
  ``element_at``, ``ARRAY[..]``; whole-statement ``SUMMARIZE`` /
  ``PIVOT`` / ``UNION BY NAME`` become DataFrame plans
  (:func:`statement_form_df`).
* **strftime(expr, 'fmt')** → ``date_format(expr, '<translated>')``
  for the common C directives (%Y %m %d %H %M %S …).
* **QUALIFY** → wraps the query and filters on the window result
  (DuckDB/Snowflake semantics) when the statement is one top-level
  SELECT (set operations pass through untouched — DuckDB binds
  QUALIFY to the last branch, which a whole-statement wrap would
  silently change).
* **File-scan table functions** — the reference boots DuckDB with the
  json/httpfs/aws extensions (pkg/destinations/duckdb/duckdb.go:80-98),
  so saved queries read files directly: ``read_parquet('p')`` /
  ``read_ndjson_auto('p')`` / ``read_csv_auto('p')`` and the bare
  ``FROM 'x.parquet'`` form all rewrite to Spark's
  ``parquet.`p`` / ``json.`p`` / ``csv.`p`` path scans; literal path
  LISTS become a UNION ALL chain of scans. Forms with reader options
  pass through (loud analysis error beats silently dropped options).
* **Constructors & spines**: ``unnest(...)`` → ``explode(...)``,
  ``struct_pack(a := x)`` and brace literals ``{'a': x}`` →
  ``named_struct``, ``MAP {'k': v}`` → ``map``, FROM-position
  ``generate_series(start, stop[, step])`` →
  ``explode(sequence(...))``; ``string_split`` inlines to native
  ``split`` (a SQL UDF cannot sit under a generator).
* **DISTINCT ON** → ``SELECT DISTINCT ON (keys) ... ORDER BY ...``
  (DuckDB/Postgres first-row-per-key) rewrites to a ROW_NUMBER
  window over the keys, filtered to 1 — original select list, keys,
  and WHERE stay in their own scope. Set operations, GROUP BY, and
  ordinal ORDER BYs pass through untouched.
* **ASOF JOIN** → ``ASOF [LEFT] JOIN b ON eq AND l.ts >= b.ts``
  rewrites to the union+window form (struct-packed sides, one shuffle
  on the join keys) — the same plan as the DataFrame operator
  (operators/asof.py), generated without knowing either table's
  columns.

Anything the rewriter does not recognize passes through untouched —
valid Spark SQL is never altered (every rewritten token is a parse
error in stock Spark, so there is nothing to collide with).

TWO deliberate exceptions to "never altered" (the engine's query
surface speaks DuckDB by contract).  First, decided r12: STRING
LITERAL semantics are DuckDB's on the whole query surface.  DuckDB
does not process backslash escapes ('\\d' is backslash-d; the only
escape is '' doubling) while stock Spark's parser eats backslashes —
so every regex class in a saved query silently matched the wrong
thing (the largest silent-divergence class any probe wave has
found).  query_df bridges by DOUBLING backslashes inside '…'
literals before the first parse (:func:`escape_backslashes_for_spark`
— a parser flag cannot do this: escapedStringLiterals breaks ''
doubling, probed).  Consequence: text written in SPARK's literal
dialect changes meaning — 'a\\nb' now means backslash-n, and a quote
is spelled '' not \\'.  Reference parity wins; the engine's query
dialect is DuckDB.

Second, decided r13 (the same boundary, the same contract): the five
BOTH-VALID-DIFFERENT-MEANING call shapes the r11/r12 probe waves
documented execute with DuckDB's meaning (:func:`bridge_call_
semantics`, applied by :func:`prepare_query_text` before the first
parse — the fallback rewriter can never see them because stock Spark
accepts the text):

* 2-argument ``trim``/``ltrim``/``rtrim`` — DuckDB's (string,
  trim_chars) argument order, emitted as the keyword form
  ``trim(BOTH c FROM s)`` (identical on both engines).
* 2-argument ``regexp_extract``/``regexp_extract_all`` — group 0
  (the full match), appended explicitly.
* ``a ^ b`` — power (left-associative, tighter than ``*``, looser
  than unary minus — probed).  Spark's XOR meaning is reachable as
  the ``xor()`` compat function.
* 1-argument ``log(x)`` — log10 (the 2-argument (base, x) form
  already agrees).
* ``skewness``/``kurtosis`` — DuckDB's SAMPLE (bias-corrected)
  statistics where Spark's are the population ones (probed r13:
  -1.414214 vs -0.816497, 1.5 vs -1.0 on the same rows) — corrected
  in-plan from Spark's value and count(); n too small → NULL like
  DuckDB.  ``kurtosis_pop`` maps to Spark's raw kurtosis.  A window
  (OVER) use of the corrected forms becomes a loud parse error, not
  a silent population value.
* 3-argument ``regexp_replace`` — FIRST-occurrence semantics via an
  inlined foldable expression (the ``regexp_replace_first`` compat
  function's body — inlined because SQL UDF calls cannot live in
  inline VALUES tables); a LITERAL replacement additionally moves
  from RE2 rewrite syntax (``\\1`` refs, ``$`` literal) to Java's
  (``$1`` refs, ``\\$`` literal) — in the 4-argument options form
  too.  Blind edges, documented: a NON-literal replacement
  expression keeps Java ref syntax, and a context assertion reaching
  outside the matched text (``\\B`` at a match edge) evaluates
  against the extracted substring.

Also bridged at the r13 pre-parse boundary (both-valid-different-
meaning scalar shapes, each probed):

* ``concat(...)`` — DuckDB casts every argument to VARCHAR and
  SKIPS NULLs (``concat('a', NULL, 'b')`` = ``'ab'``) where Spark
  propagates NULL — each argument coalesces its string cast.
* ``left``/``right`` with a NEGATIVE count — DuckDB drops |n|
  characters from the other end where Spark returns ``''``.
* 2/3-argument ``substring``/``substr`` — DuckDB's window model
  ([start, start+len) with 1-based positions, start <= 0 shrinking
  the window, negative start counting from the end, negative length
  selecting backward) where Spark clamps differently on every
  corner; provably in-range literals pass through untouched.  The
  keyword form (``substring(s FROM a FOR b)``) keeps Spark's
  meaning — documented blind edge.
* ``list_slice``/``array_slice`` — 1-based BOTH-INCLUSIVE with
  negative-from-the-end indexes and out-of-range clamping, spelled
  as Spark's ``slice``; the STEP form refuses loudly, and a STRING
  first argument (DuckDB slices strings too) fails loudly on the
  array-typed ``slice``.

Third (r13, same boundary): the regex PATTERN dialect.  DuckDB
compiles patterns with RE2 and Spark with java.util.regex — the
pattern is DATA (a literal argument), so every divergence was a
silent wrong value: POSIX bracket classes (``[[:digit:]]`` matches
the letters d-i-g-t and ``:`` in Java), ``$`` (Java also matches
before a trailing newline; RE2 only at end of text), octal escapes
(``\\101`` is a backreference spelling in Java), line-terminator
sets (``.`` excludes \\r in Java), invalid-quantifier braces
(``a{,3}`` is literal in RE2, an error in Java), ``(?P<name>…)``
groups, and the OPTIONS argument ('i'/'s'/'l'/'c'/'m' — folded into
the pattern as inline flags; 'g' selects Spark's native
all-occurrence replace).  LITERAL patterns of regexp_extract[_all] /
regexp_matches / regexp_full_match / regexp_replace /
str_split_regex / regexp_split_to_array and the ``~``/``!~``
operators are translated by :func:`re2_pattern_to_java` (which also
prepends ``(?d)`` — Java's UNIX_LINES — to equalize the
line-terminator sets, and anchors full matches ``\\A…\\z`` instead
of ``^…$``).  regexp_extract's named-group LIST form expands to a
named_struct of group extracts.  Blind edges, documented: a
NON-literal (column-valued) pattern executes with Java semantics, a
non-empty zero-width-capable split pattern keeps Java's
trailing-empty behavior, and ``\\p{Script}`` names beyond Java's
table pass through.

Integer subscripts ARE bridged: within rewritten text ``a[1]`` is
DuckDB's 1-based (negative-from-end) subscript, emitted as
``element_at(a, 1)`` — identical semantics for arrays and maps on
both engines. (A subscript in a query stock Spark accepts never
reaches the rewriter and keeps Spark's 0-based meaning.)

Known divergences NOT bridged: slice subscripts ``x[a:b]`` and set
operators ``BY NAME`` fail loudly with the exact replacement
(DialectError); ``split``'s separator (regex on Spark) is handled
only via the ``string_split`` alias. Divergences are documented or
guarded, never guessed at.

FALLBACK BLIND SPOTS (r11/r12 differential probes): a construct that
is VALID in both dialects with a different meaning executes with
SPARK's meaning unless the r13 pre-parse bridge above covers it.  The
remaining (type-width / printed-type / locale-table) list:

* ``date_trunc`` returns DATE for date inputs in DuckDB, always
  TIMESTAMP in Spark (same instant, different printed type).
* Numeric result widths: ``sign()`` DOUBLE vs BIGINT, ``list_sum``
  DOUBLE vs HUGEINT/DECIMAL, ``trunc(double)`` DOUBLE vs the bridge's
  BIGINT — values equal, types differ.
* ``DATE - DATE`` — an integer day count in DuckDB, an INTERVAL in
  Spark (``datediff(a, b)`` is the portable spelling).
* ``INTERVAL + DATE`` — stays DATE in Spark for day-granularity
  intervals, widens to TIMESTAMP in DuckDB — same instant, different
  printed type.
* ``hash(x)`` — different hash functions entirely (use md5/sha2 for
  portable digests).
* ``dayofweek`` — Sunday=0 in DuckDB, Sunday=1 in Spark (the
  ``isodow`` compat function is identical on both).
* ``dayname`` / ``monthname`` — BRIDGED r13 (pre-parse → date_format
  'EEEE'/'MMMM' full names); ``date_trunc`` decade/century/millennium
  — BRIDGED r13 (Spark returned NULL silently; now year-floor
  arithmetic, DATE-typed like DuckDB).
* ``to_timestamp(secs)`` — TIMESTAMP WITH TIME ZONE in DuckDB, plain
  TIMESTAMP in Spark — same instant, different printed type.
* ``element_at(map, k)`` — the value in Spark, a single-element LIST
  in DuckDB.
* ``CAST(fractional AS INT/BIGINT)`` (r13 probe): DuckDB ROUNDS
  (half away from zero — 2.7 → 3) where Spark TRUNCATES (→ 2) — a
  silent wrong value, but NOT mechanically bridgeable in text: a
  round() wrap would route already-integral BIGINTs through DOUBLE
  and corrupt values above 2^53.  Spell ``round()`` explicitly.
* Division/modulo by zero (r13 probe): NULL in DuckDB, a loud ANSI
  DIVIDE_BY_ZERO error in Spark (the error names try_divide) —
  error-vs-NULL, never a silent wrong value.
* ``cbrt(27)`` (r13 probe): 3.0000000000000004 in DuckDB, exactly
  3.0 in Spark — last-ulp float noise in DuckDB's implementation;
  not reproducible (and not worth reproducing) in-plan.
* ``upper``/``lower`` Unicode special-casing (r12 probe): DuckDB's
  ICU casing maps ß → ẞ (capital sharp s) where the JVM's maps it to
  SS — locale-table differences on a handful of special-cased code
  points; ASCII and the overwhelming mass of Unicode agree.
* SELECT-LIST ``IN (subquery)`` over a set containing NULLs (r12
  probe wave): where the standard (and DuckDB) yield NULL for a
  no-match probe against a NULL-bearing set, Spark's existence-join
  rewrite PROJECTS false (``2 IN (SELECT v …)`` with v ∈ {1, NULL} →
  false, not NULL; same for NOT IN).  In WHERE position the engines
  agree observably — NULL and false both drop the row — and the
  null-aware anti-join keeps NOT IN filters exact; only the projected
  VALUE diverges.  Engine behavior, not a rewrite: the same text with
  plain IN (no dialect token at all) does this in stock Spark.
"""

from __future__ import annotations

import logging
import re


class DialectError(ValueError):
    """A DuckDB construct this layer refuses to bridge silently,
    raised with the exact replacement so the saved query is a
    one-token edit away from running."""


_LOG = logging.getLogger(__name__)


# --------------------------------------------------------------- masking


def _segments(sql: str):
    """Split sql into (is_code, text) segments; string literals
    ('..' with '' doubling, ".." and `..` quoted identifiers) and
    -- / /* */ comments are non-code so rewrites never touch their
    contents.

    Literal semantics are DUCKDB's — quote doubling, backslash is an
    ordinary character (``'a\\'`` is a complete literal ending in a
    backslash) — because only DuckDB-dialect text reaches this
    scanner: the engine rewrites as a FALLBACK after stock Spark
    rejects the text (engine.py query_df), so a valid Spark query
    with backslash escapes is executed verbatim and never crosses
    here. Treating ``\\'`` as an escape instead would mis-pair the
    quotes of DuckDB text like ``'a\\', 'x // y'`` and rewrite inside
    the second literal."""
    out = []
    i, n = 0, len(sql)
    start = 0
    while i < n:
        ch = sql[i]
        if ch == "$":
            # dollar-quoted string ($$..$$ / $tag$..$tag$ — r13
            # review catch: the contents were scanned as CODE, so a
            # pre-parse bridge could rewrite inside what DuckDB means
            # as a literal).  Tags are identifier-like, so a $1
            # positional parameter never matches.
            m = re.match(r"\$([A-Za-z_]\w*)?\$", sql[i:])
            if m is None:
                i += 1
                continue
            tag = m.group(0)
            end = sql.find(tag, i + len(tag))
            end = n if end == -1 else end + len(tag)
            if start < i:
                out.append((True, sql[start:i]))
            out.append((False, sql[i:end]))
            i = end
            start = i
        elif ch == "'" or ch == '"' or ch == "`":
            if start < i:
                out.append((True, sql[start:i]))
            q = ch
            j = i + 1
            while j < n:
                if sql[j] == q:
                    if j + 1 < n and sql[j + 1] == q:  # doubled quote
                        j += 2
                        continue
                    break
                j += 1
            j = min(j, n - 1)
            out.append((False, sql[i : j + 1]))
            i = j + 1
            start = i
        elif ch == "-" and sql[i : i + 2] == "--":
            if start < i:
                out.append((True, sql[start:i]))
            j = sql.find("\n", i)
            j = n if j == -1 else j
            out.append((False, sql[i:j]))
            i = j
            start = i
        elif ch == "/" and sql[i : i + 2] == "/*":
            if start < i:
                out.append((True, sql[start:i]))
            j = sql.find("*/", i + 2)
            j = n if j == -1 else j + 2
            out.append((False, sql[i:j]))
            i = j
            start = i
        else:
            i += 1
    if start < n:
        out.append((True, sql[start:]))
    return out


# keywords that can directly precede an empty-list literal (or are
# otherwise never a type name in type position) — the array-suffix
# rewrite must not treat ``ELSE []`` as ``ARRAY<ELSE>``
_NON_TYPE_KEYWORDS = frozenset(
    """SELECT THEN ELSE WHEN END CASE AND OR NOT IN IS AS ON BY FROM
    WHERE HAVING RETURN RETURNING VALUES SET UNION ALL EXCEPT
    INTERSECT DISTINCT LIMIT OFFSET JOIN THEN DEFAULT USING BETWEEN
    LIKE ILIKE ESCAPE OVER PARTITION ORDER GROUP ROWS RANGE
    PRECEDING FOLLOWING CURRENT ROW NULLS FIRST LAST ASC DESC""".split()
)


def rewrite_type_aliases(code: str) -> str:
    """DuckDB type aliases → Spark types, on CODE text (literals must
    be masked or segmented out by the caller).  Bare VARCHAR only —
    Spark's parameterized VARCHAR(n) is valid and stays; TEXT is NOT
    bridged (it is a common COLUMN name — the documents table has one
    — and text rewriting cannot tell type position from value
    position).  HUGEINT (DuckDB's int128, what its sum(int) returns)
    maps to the conventional DECIMAL(38,0) — 38 digits vs int128's
    39, so the outermost slice of the range overflows loudly (ANSI
    cast error), never silently.  Used by the dialect fallback AND
    warehouse_dml's CREATE TABLE column-def parser."""
    code = re.sub(r"\bVARCHAR\b(?!\s*\()", "STRING", code, flags=re.I)
    code = re.sub(r"\bINT1\b", "TINYINT", code, flags=re.I)
    code = re.sub(r"\bINT2\b", "SMALLINT", code, flags=re.I)
    code = re.sub(r"\bINT4\b", "INT", code, flags=re.I)
    code = re.sub(r"\bINT8\b", "BIGINT", code, flags=re.I)
    code = re.sub(r"\bFLOAT4\b", "FLOAT", code, flags=re.I)
    code = re.sub(r"\bFLOAT8\b", "DOUBLE", code, flags=re.I)
    code = re.sub(r"\bHUGEINT\b", "DECIMAL(38,0)", code, flags=re.I)
    # DuckDB's array-type suffix: INT[] → ARRAY<INT> (r12; surfaced by
    # the advisor-regression battery's CAST(NULL AS INT[]) probes).
    # A value subscript always has content, but an EMPTY-LIST literal
    # can follow a bare keyword (``ELSE []``, ``THEN []``, ``SELECT
    # []`` are all valid DuckDB) — so keyword-led matches are skipped
    # (r12 self-review catch: the first cut emitted ``ARRAY<ELSE>``).
    # Innermost-out loop handles nesting (INT[][] →
    # ARRAY<ARRAY<INT>>); the optional <...> arm lets the second pass
    # match the ARRAY<…> it just built.  DuckDB's fixed-size INT[3]
    # is NOT bridged (Spark has no fixed-size array type; it stays a
    # loud parse error).
    arr = re.compile(
        r"\b([A-Za-z_]\w*(?:\s*\([^()]*\))?(?:<[^\[\]]*>)?)\s*\[\s*\]"
    )

    def _array_suffix(m: re.Match) -> str:
        if m.group(1).upper() in _NON_TYPE_KEYWORDS:
            return m.group(0)
        return f"ARRAY<{m.group(1)}>"

    while True:
        new = arr.sub(_array_suffix, code)
        if new == code:
            return code
        code = new


def _rewrite_code(code: str) -> str:
    # * EXCLUDE (a, b) → * EXCEPT (a, b)   (DuckDB keyword for Spark's)
    code = re.sub(r"(\*\s*)EXCLUDE(\s*\()", r"\1EXCEPT\2", code, flags=re.I)
    # integer division: a // b → a DIV b. Exact for integer operands
    # (both truncate toward zero, -7//2 = -7 DIV 2 = -3). DuckDB's //
    # on DECIMAL/DOUBLE behaves as plain division (7.5 // 2 = 3.75) —
    # a type-dependent meaning no text rewrite can reproduce; integer
    # usage is the dialect's documented contract here.
    code = re.sub(r"//", " DIV ", code)
    # list_* constructors/predicates with direct array_* counterparts
    code = re.sub(r"\blist_value\s*\(", "array(", code, flags=re.I)
    code = re.sub(r"\blist_contains\s*\(", "array_contains(", code, flags=re.I)
    code = re.sub(r"\blist_has_any\s*\(", "arrays_overlap(", code, flags=re.I)
    code = re.sub(r"\blist_transform\s*\(", "transform(", code, flags=re.I)
    code = re.sub(r"\blist_filter\s*\(", "filter(", code, flags=re.I)
    # (list_unique moved to the WRAPPED-call pass: it is a COUNT of
    # distinct non-null elements in DuckDB, not a distinct list — the
    # old array_distinct alias was silently wrong, r11 wave-5 catch)
    code = re.sub(r"\barray_length\s*\(", "size(", code, flags=re.I)
    # array_to_string == array_join exactly (both skip NULL elements,
    # probed r11); str_split_regex is Spark's regex split
    code = re.sub(r"\barray_to_string\s*\(", "array_join(", code, flags=re.I)
    # strpos == instr exactly (1-based, 0 when absent, 1 for the
    # empty needle — probed r13)
    code = re.sub(r"\bstrpos\s*\(", "instr(", code, flags=re.I)
    # r13 list-function aliases: apply == list_transform, list_pack ==
    # list_value, array_filter == list_filter, array_unique ==
    # list_unique (the COUNT semantics — rename BEFORE the wrapped
    # pass so the count template applies); len == length for strings
    # (on a LIST argument Spark's length fails loudly where DuckDB
    # counts — a type-dependent meaning no text rewrite can split)
    code = re.sub(r"\bapply\s*\(", "transform(", code, flags=re.I)
    code = re.sub(r"\blist_pack\s*\(", "array(", code, flags=re.I)
    code = re.sub(r"\barray_filter\s*\(", "filter(", code, flags=re.I)
    code = re.sub(r"\barray_unique\s*\(", "list_unique(", code, flags=re.I)
    code = re.sub(r"\blen\s*\(", "length(", code, flags=re.I)
    # window-frame EXCLUDE NO OTHERS is DuckDB's spelled-out DEFAULT
    # (probed r13) — a no-op Spark's frame grammar rejects
    code = re.sub(r"\bEXCLUDE\s+NO\s+OTHERS\b", "", code, flags=re.I)
    # row() builds an unnamed struct; Spark's struct() names the
    # fields col1… — which is exactly what the positional
    # struct_extract bridge addresses (r13)
    code = re.sub(r"\brow\s*\(", "struct(", code, flags=re.I)
    # group_concat == string_agg in DuckDB (the default-separator fix
    # happened at the pre-parse boundary)
    code = re.sub(r"\bgroup_concat\s*\(", "string_agg(", code, flags=re.I)
    # long spellings of the gcd/lcm compat functions
    code = re.sub(
        r"\bgreatest_common_divisor\s*\(", "gcd(", code, flags=re.I
    )
    code = re.sub(
        r"\bleast_common_multiple\s*\(", "lcm(", code, flags=re.I
    )
    code = re.sub(r"\bstr_split_regex\s*\(", "split(", code, flags=re.I)
    # regexp_split_to_array is the Postgres-style synonym of
    # str_split_regex; string_to_array splits on a LITERAL separator
    # — the registered string_split compat UDF's \Q..\E quoting (r12)
    code = re.sub(
        r"\bregexp_split_to_array\s*\(", "split(", code, flags=re.I
    )
    code = re.sub(
        r"\bstring_to_array\s*\(", "string_split(", code, flags=re.I
    )
    # r11 wave-5 direct aliases (each probed for NULL/empty/miss
    # parity): Spark's array_* twins agree with the DuckDB list_*
    # forms — array_position is 1-based with 0 on a miss on BOTH,
    # array_max/min ignore NULL elements and return NULL on empty on
    # BOTH.
    # (list_append / list_concat / list_prepend / list_extract /
    # array_extract are in the WRAPPED-call pass: r12 advisor catch —
    # DuckDB treats a NULL list as empty for append/prepend and SKIPS
    # NULL arguments in list_concat, where Spark's array_append /
    # concat are NULL-poisoning; and under ANSI mode element_at
    # throws on index 0 / out-of-range where DuckDB returns NULL)
    code = re.sub(r"\blist_position\s*\(", "array_position(", code, flags=re.I)
    code = re.sub(r"\blist_indexof\s*\(", "array_position(", code, flags=re.I)
    code = re.sub(r"\blist_reverse\s*\(", "reverse(", code, flags=re.I)
    code = re.sub(r"\barray_reverse\s*\(", "reverse(", code, flags=re.I)
    code = re.sub(r"\blist_max\s*\(", "array_max(", code, flags=re.I)
    code = re.sub(r"\blist_min\s*\(", "array_min(", code, flags=re.I)
    code = re.sub(r"\bstrlen\s*\(", "length(", code, flags=re.I)
    # ord/unicode return the first character's CODEPOINT in DuckDB;
    # Spark's ascii does exactly that (probed with U+20AC)
    code = re.sub(r"\bord\s*\(", "ascii(", code, flags=re.I)
    code = re.sub(r"\bunicode\s*\(", "ascii(", code, flags=re.I)
    # both week() and weekofyear() are ISO weeks (probed at year
    # boundaries); the \s*\( keeps EXTRACT(WEEK FROM …) untouched
    code = re.sub(r"\bweek\s*\(", "weekofyear(", code, flags=re.I)
    # datetrunc is DuckDB's documented synonym of date_trunc (r12
    # probe wave); the DATE-vs-TIMESTAMP return-type note for
    # date_trunc (module docstring) applies identically
    code = re.sub(r"\bdatetrunc\s*\(", "date_trunc(", code, flags=re.I)
    code = re.sub(r"\bdatepart\s*\(", "date_part(", code, flags=re.I)
    # json_keys is bridged in _rewrite_json_keys / _WRAPPED_CALLS
    # (r13 — json_object_keys alone returned NULL where DuckDB gives
    # [] on non-object roots and raises on malformed input)
    code = re.sub(r"\bstarts_with\s*\(", "startswith(", code, flags=re.I)
    # DuckDB type aliases Spark's parser rejects (saved queries cast
    # with them constantly: x::VARCHAR, y::INT8); shared with the
    # warehouse CREATE TABLE column-def parser (r11 probe catch).
    # Only runs on stock-Spark-rejected queries, so a valid Spark
    # statement never crosses here.
    code = rewrite_type_aliases(code)
    # aggregate renames with exact Spark counterparts: list() →
    # array_agg (same unordered-bag semantics), arg_max/arg_min →
    # max_by/min_by, quantile_cont → percentile (both linearly
    # interpolated). All are parse/analysis errors in stock Spark, so
    # the fallback contract holds.
    code = re.sub(r"\blist\s*\(", "array_agg(", code, flags=re.I)
    code = re.sub(r"\barg_max\s*\(", "max_by(", code, flags=re.I)
    code = re.sub(r"\barg_min\s*\(", "min_by(", code, flags=re.I)
    code = re.sub(r"\bquantile_cont\s*\(", "percentile(", code, flags=re.I)
    # r13 aggregate-surface probe: DuckDB's fused/Kahan avg is plain
    # avg on doubles; approx_quantile is approx_percentile;
    # kurtosis_pop is exactly Spark's (population excess) kurtosis
    code = re.sub(r"\bfavg\s*\(", "avg(", code, flags=re.I)
    # r13 string/vector-surface probe
    code = re.sub(r"\beditdist3\s*\(", "levenshtein(", code, flags=re.I)
    # list_inner_product & friends are compat SQL UDFs; the fixed-size
    # ARRAY-typed array_* spellings map onto them (lenient: DuckDB
    # itself rejects LIST inputs there)
    code = re.sub(
        r"\b(?:list_dot_product|array_inner_product)\s*\(",
        "list_inner_product(",
        code,
        flags=re.I,
    )
    code = re.sub(
        r"\barray_cosine_similarity\s*\(",
        "list_cosine_similarity(",
        code,
        flags=re.I,
    )
    code = re.sub(
        r"\barray_distance\s*\(", "list_distance(", code, flags=re.I
    )
    code = re.sub(
        r"\bapprox_quantile\s*\(", "approx_percentile(", code, flags=re.I
    )
    code = re.sub(r"\bkurtosis_pop\s*\(", "kurtosis(", code, flags=re.I)
    # aggregate FILTER without the WHERE keyword (DuckDB allows it);
    # the ')' context keeps Spark's filter() HOF out of reach
    code = re.sub(
        r"(\))(\s*FILTER\s*\(\s*)(?!WHERE\b)",
        r"\1\2WHERE ",
        code,
        flags=re.I,
    )
    # quantified comparisons (r12 probe wave): = ANY/SOME (sub) is
    # EXACTLY IN (sub) and <> ALL (sub) is EXACTLY NOT IN (sub) per
    # the SQL standard — probed on DuckDB 1.0 for the hit/miss/empty-
    # set/NULL-element/NULL-probe edges, all agree.  Spark has no
    # quantified-comparison syntax at all, so these only ever arrive
    # through the fallback.  The ORDERED quantifiers (< > <= >=) have
    # no faithful rewrite and refuse in _guard_unbridged.
    # lookbehind: >= ANY / <= ANY must NOT half-match as "= ANY"
    code = re.sub(
        r"(?<![<>!])=\s*(?:ANY|SOME)\s*\(", " IN (", code, flags=re.I
    )
    code = re.sub(r"(?:<>|!=)\s*ALL\s*\(", " NOT IN (", code, flags=re.I)
    # select-list unnest → explode: same one-row-per-element semantics
    # for arrays (the overwhelmingly common use). unnest of structs /
    # multiple parallel unnests differ — those become loud analysis
    # errors on Spark, never silent changes.
    code = re.sub(r"\bunnest\s*\(", "explode(", code, flags=re.I)
    # USING SAMPLE 10% | USING SAMPLE 100 ROWS → TABLESAMPLE, incl. the
    # named-method forms bernoulli(10%) / system(10%) / reservoir(100
    # ROWS). Method forms match their parens as a unit — an optional
    # lone ``\)?`` would eat the closing paren of an enclosing subquery.
    code = re.sub(
        r"\bUSING\s+SAMPLE\s+(?:bernoulli|system)\s*\(\s*(\d+(?:\.\d+)?)\s*%\s*\)",
        r"TABLESAMPLE (\1 PERCENT)",
        code,
        flags=re.I,
    )
    code = re.sub(
        r"\bUSING\s+SAMPLE\s+(\d+(?:\.\d+)?)\s*%",
        r"TABLESAMPLE (\1 PERCENT)",
        code,
        flags=re.I,
    )
    code = re.sub(
        r"\bUSING\s+SAMPLE\s+reservoir\s*\(\s*(\d+)\s+ROWS\s*\)",
        r"TABLESAMPLE (\1 ROWS)",
        code,
        flags=re.I,
    )
    code = re.sub(
        r"\bUSING\s+SAMPLE\s+(\d+)\s+ROWS\b",
        r"TABLESAMPLE (\1 ROWS)",
        code,
        flags=re.I,
    )
    return code


def _rewrite_bracket_literals(parts: list[tuple[bool, str]]) -> str:
    """DuckDB list literals ``[1, 'a']`` → ``array(1, 'a')``. A ``[``
    is a subscript only when it IMMEDIATELY follows a value expression
    (identifier char, ``)``, ``]``, closing quote — ``a[1]``,
    ``expr()[1]``); any whitespace or operator before it means a list
    constructor (``SELECT [1, 2]``, ``IN [..]``). The Postgres-compat
    constructor ``ARRAY[...]`` is a special case: the ``[`` follows an
    identifier char but the identifier is the bare word ``array``, so
    it becomes ``array(...)`` too. Bracket pairs match via a stack
    carried ACROSS segments (a literal's string elements are non-code
    segments); non-code text itself is never altered."""
    out = []
    stack = []  # True = literal (rewritten), False = subscript
    prev = ""  # last raw char of the ORIGINAL text, whitespace included
    word = ""  # trailing identifier, for the ARRAY[...] form
    for is_code, text in parts:
        if not is_code:
            out.append(text)
            if text:
                prev = text[-1]
            word = ""
            continue
        for ch in text:
            if ch == "[":
                is_subscript = bool(prev) and (prev.isalnum() or prev in "_)]'\"`")
                if is_subscript and word.lower() == "array":
                    # ARRAY[1, 2] — constructor keyword, not a value
                    stack.append(True)
                    out.append("(")
                else:
                    stack.append(not is_subscript)
                    out.append("[" if is_subscript else "array(")
            elif ch == "]" and stack:
                out.append(")" if stack.pop() else "]")
            else:
                out.append(ch)
            word = word + ch if (ch.isalnum() or ch == "_") else ""
            prev = ch
    return "".join(out)


# ------------------------------------------------------------- strftime

# C directive → java.time pattern (the common subset; DuckDB docs list
# these as its core strftime directives)
_STRFTIME = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd", "%H": "HH",
    "%I": "hh", "%M": "mm", "%S": "ss", "%f": "SSSSSS", "%g": "SSS",
    "%j": "DDD", "%a": "EEE", "%A": "EEEE", "%b": "MMM", "%B": "MMMM",
    "%p": "a", "%Z": "zzz", "%z": "xx", "%%": "%",
}


def _strftime_to_java(fmt: str) -> str:
    """Translate a C strftime format to a java.time pattern; literal
    text is quoted so Java doesn't read it as pattern letters.
    CONSECUTIVE literal characters quote as ONE run — the old
    per-character form emitted ``'y''r'``, which java.time reads as
    the literal ``y'r`` (``''`` inside a quoted section is an embedded
    quote), not ``yr``; any rendering that abuts two quoted runs hits
    the same trap, so the grouping happens before quoting (r11
    differential probe catch).  A run quotes only if it contains an
    alphabetic or an apostrophe (escaped by doubling); pure
    punctuation stays bare, keeping ``yyyy-MM-dd`` readable."""
    toks: list[tuple[bool, str]] = []  # (is_pattern, text)
    i, n = 0, len(fmt)
    while i < n:
        if fmt[i] == "%" and i + 1 < n:
            d = fmt[i : i + 2]
            toks.append((True, _STRFTIME.get(d, d)))
            i += 2
        else:
            toks.append((False, fmt[i]))
            i += 1
    out: list[str] = []
    run: list[str] = []

    def flush() -> None:
        if not run:
            return
        text = "".join(run)
        if any(c.isalpha() or c == "'" for c in text):
            out.append("'" + text.replace("'", "''") + "'")
        else:
            out.append(text)
        run.clear()

    for is_pattern, text in toks:
        if is_pattern:
            flush()
            out.append(text)
        else:
            run.append(text)
    flush()
    return "".join(out)


_MASK = "\x00"


def _mask_literals(sql: str) -> tuple[str, list[str]]:
    """Replace every non-code segment with a ``\\x00<i>\\x00``
    placeholder so function-shape regexes (strftime, date_diff) can
    run over the code structure WITHOUT ever matching inside an
    unrelated string literal — the placeholder stands where the
    literal argument sits, and the rewrite looks its content up by
    index. Round-trips exactly via _unmask_literals."""
    chunks, literals = [], []
    for is_code, text in _segments(sql):
        if is_code:
            chunks.append(text)
        else:
            chunks.append(f"{_MASK}{len(literals)}{_MASK}")
            literals.append(text)
    return "".join(chunks), literals


def _unmask_literals(masked: str, literals: list[str]) -> str:
    return re.sub(
        f"{_MASK}(\\d+){_MASK}", lambda m: literals[int(m.group(1))], masked
    )


def _rewrite_strptime(masked: str, literals: list[str]) -> str:
    """``strptime(<expr>, '<fmt>')`` → ``to_timestamp(expr, ...)`` —
    the parse-direction twin of strftime, same directive table.
    ``try_strptime`` maps to ``try_to_timestamp`` (NULL on parse
    failure, both engines)."""
    def repl(m):
        lit = literals[int(m.group(3))]
        if lit[:1] != "'":
            return m.group(0)
        translated = _strftime_to_java(lit[1:-1]).replace("'", "''")
        fn = "try_to_timestamp" if m.group(1) else "to_timestamp"
        return f"{fn}({m.group(2)}, '{translated}')"

    return re.sub(
        rf"\b(try_)?strptime\s*\(\s*([^,()]+(?:\([^()]*\))?[^,()]*)\s*,\s*{_MASK}(\d+){_MASK}\s*\)",
        repl,
        masked,
        flags=re.I,
    )


def _rewrite_date_diff(masked: str, literals: list[str]) -> str:
    """``date_diff('day', a, b)`` / ``datediff('day', a, b)`` →
    ``date_diff_boundary('day', a, b)`` (a registered compat UDF) on
    the literal-masked text: the part-name placeholder must be the
    call's first argument, so a literal elsewhere can never match.

    The old bridge emitted ``timestampdiff(DAY, a, b)`` — silently
    WRONG for misaligned endpoints: DuckDB's date_diff counts PART
    BOUNDARIES CROSSED (Jan 15 → Mar 1 is 2 months) while Spark's
    timestampdiff counts COMPLETE intervals (1 month).  The compat
    UDF truncates both sides to the part before diffing, which makes
    the two definitions coincide (r11 differential probe catch).
    Spark's own two-argument ``datediff(end, start)`` is valid Spark
    and never reaches the rewriter; even if it did, a column first
    argument cannot match the literal placeholder."""
    def repl(m):
        lit = literals[int(m.group(1))]
        part = lit[1:-1] if lit[:1] == "'" else lit
        if not re.fullmatch(r"\w+", part):
            return m.group(0)
        return f"date_diff_boundary('{part.lower()}',"

    return re.sub(
        rf"\b(?:date_diff|datediff)\s*\(\s*{_MASK}(\d+){_MASK}\s*,",
        repl,
        masked,
        flags=re.I,
    )


# a preceding token that ENDS a value expression: a literal
# placeholder, an identifier/number, or a closing paren/bracket —
# minus the keywords a prefix operator can legally follow (``SELECT
# ~5``, ``WHERE ~x = y`` must keep Spark's bitwise meaning)
_MATCH_TOK = r"(\x00\d+\x00|\w+|[)\]])"
_NONVALUE_WORDS = frozenset(
    "select where and or not when then else case on by in like ilike"
    " rlike between having from join all distinct as is exists any"
    " some union intersect except limit offset over partition"
    " returns return".split()
)


def _sub_infix(masked: str, op_re: str, replacement: str) -> str:
    def repl(m):
        if m.group(1).lower() in _NONVALUE_WORDS:
            return m.group(0)
        return m.group(1) + replacement

    return re.sub(_MATCH_TOK + r"\s*" + op_re + r"\s*", repl, masked)


def _sub_regex_full(
    masked: str,
    literals: list[str],
    op_re: str,
    keyword: str,
    flags: str = "",
) -> str:
    """``expr ~ '<pat>'`` / ``expr !~ '<pat>'`` with a LITERAL
    pattern: DuckDB's ``~`` is SIMILAR TO — a FULL match
    (regexp_full_match; ``'alpha' ~ 'a'`` is FALSE) — where Spark's
    RLIKE finds the pattern ANYWHERE, so the literal is anchored
    ``\\A(?:pat)\\z`` before it rides RLIKE (r11 differential battery
    catch: the unanchored bridge was Postgres semantics, not DuckDB's;
    r13: ``\\z`` not ``$`` — Java's ``$`` also matches before a
    trailing newline).  The anchored literal is APPENDED to the mask
    table — prepending/appending plain characters keeps any doubled
    quotes inside intact.  This path now only serves view_df's direct
    fallback: query_df's pre-parse bridge already converted literal
    ``~`` matches (with full RE2→Java pattern translation, which this
    escape-ambiguous path cannot do)."""
    pattern = re.compile(
        _MATCH_TOK + r"\s*" + op_re + rf"\s*{_MASK}(\d+){_MASK}"
    )

    def repl(m):
        if m.group(1).lower() in _NONVALUE_WORDS:
            return m.group(0)
        lit = literals[int(m.group(2))]
        if lit[:1] != "'":
            return m.group(0)  # quoted identifier — leave loud below
        literals.append(
            "'\\\\A(?" + flags + ":" + lit[1:-1] + ")\\\\z'"
        )
        return (
            f"{m.group(1)}{keyword}{_MASK}{len(literals) - 1}{_MASK}"
        )

    return pattern.sub(repl, masked)


def _rewrite_match_operators(masked: str, literals: list[str]) -> str:
    """The PostgreSQL-lineage pattern-match operators DuckDB accepts —
    ``~`` (FULL regex match, = SIMILAR TO), ``!~``, ``~~`` (LIKE),
    ``!~~``, ``~~*`` (ILIKE), ``!~~*`` — are all parse errors in
    Spark, so they reach the rewriter.  The LIKE family maps by
    operator alone (LIKE/ILIKE are full-match on both engines); the
    regex pair additionally ANCHORS its literal pattern because
    Spark's RLIKE is a partial match (see _sub_regex_full).  A
    non-literal regex pattern refuses loudly naming the
    regexp_full_match compat function.  INFIX-only: the left context
    must be a token that ends a value expression and not a keyword,
    so prefix bitwise ``~x`` (valid in both engines) never matches.
    The case-insensitive pair ``~*`` / ``!~*`` is not a DuckDB
    operator at all (probed r13 — DuckDB raises) and refuses with the
    ``'^(?i:pat)$'`` fix named.
    Longest-operator-first so ``!~~*`` never half-matches."""
    masked = _sub_infix(masked, r"!~~\*", " NOT ILIKE ")
    masked = _sub_infix(masked, r"~~\*", " ILIKE ")
    masked = _sub_infix(masked, r"!~~", " NOT LIKE ")
    masked = _sub_infix(masked, r"~~", " LIKE ")
    # ~* / !~* are NOT DuckDB operators (probed r13: DuckDB raises
    # "Scalar Function with name ~* does not exist") — the refusal
    # mirrors DuckDB's own error, with the portable fix named
    for m in re.finditer(_MATCH_TOK + r"\s*!?~\*", masked):
        if m.group(1).lower() not in _NONVALUE_WORDS:
            raise DialectError(
                "~* / !~* (case-insensitive regex match) are not"
                " bridged — DuckDB itself rejects them: use RLIKE"
                " with '^(?i:pat)$'"
            )
    masked = _sub_regex_full(masked, literals, r"!~", " NOT RLIKE ")
    masked = _sub_regex_full(masked, literals, r"~", " RLIKE ")
    for m in re.finditer(_MATCH_TOK + r"\s*!?~(?![~*\x00])", masked):
        if m.group(1).lower() not in _NONVALUE_WORDS:
            raise DialectError(
                "~ / !~ with a non-literal pattern are not bridged"
                " (DuckDB's ~ is a FULL regex match): call"
                " regexp_full_match(s, p) — registered as a compat"
                " function — instead"
            )
    return masked


# Single-argument DuckDB list functions whose exact Spark form wraps
# the argument in an expression (a typed SQL UDF would coerce the
# array's element type — the list_sort lesson — so the bridge happens
# in TEXT, duplicating {X} where the NULL-containment CASE needs it).
# Every template was probed against DuckDB for NULL-element,
# empty-list and NULL-list behavior (r11 wave 5):
#   list_unique  — COUNT of distinct non-null elements (the old
#                  array_distinct alias returned a LIST: silently
#                  wrong shape AND value)
#   list_count   — count of non-null elements
#   list_distinct— distinct list with NULLs REMOVED (Spark's
#                  array_distinct keeps one NULL)
#   list_sort    — ascending, NULLs LAST = Spark array_sort (the old
#                  DialectError recommended sort_array, which puts
#                  NULLs FIRST ascending — wrong advice, now a real
#                  bridge)
#   list_reverse_sort — descending NULLs last = sort_array(x, false)
#   list_any_value — first NON-NULL element, NULL when none
_WRAPPED_CALLS = [
    (
        "list_unique",
        "(CASE WHEN ({X}) IS NULL THEN CAST(NULL AS BIGINT) ELSE"
        " size(array_distinct(filter(({X}), _lu -> _lu IS NOT NULL)))"
        " END)",
    ),
    (
        "list_count",
        "(CASE WHEN ({X}) IS NULL THEN CAST(NULL AS BIGINT) ELSE"
        " size(filter(({X}), _lc -> _lc IS NOT NULL)) END)",
    ),
    (
        "list_distinct",
        "array_distinct(filter(({X}), _ld -> _ld IS NOT NULL))",
    ),
    ("list_sort", "array_sort(({X}))"),
    ("list_reverse_sort", "sort_array(({X}), false)"),
    ("list_any_value", "try_element_at(filter(({X}), _la -> _la IS NOT NULL), 1)"),
    # two-argument swap: DuckDB list_prepend(elem, list) vs Spark
    # array_prepend(list, elem).  DuckDB treats a NULL list as empty
    # (probed on 1.0: list_prepend(1, NULL) = [1]) where Spark's
    # array_prepend is NULL-poisoning — r12 advisor-class catch, the
    # same defect ADVICE r11 flagged on list_append.
    (
        "list_prepend",
        "(CASE WHEN ({Y}) IS NULL THEN array(({X}))"
        " ELSE array_prepend(({Y}), ({X})) END)",
    ),
    # DuckDB treats the NULL list as empty (probed: list_append(NULL,
    # 1) = [1], list_append(NULL, NULL) = [NULL]) where Spark's
    # array_append returns NULL — ADVICE r11.  NULL *elements* append
    # identically on both (probed: [1, NULL]).
    (
        "list_append",
        "(CASE WHEN ({X}) IS NULL THEN array(({Y}))"
        " ELSE array_append(({X}), ({Y})) END)",
    ),
    # DuckDB SKIPS NULL arguments (probed: list_concat(NULL, [1,2]) =
    # [1,2], both-NULL = NULL) where Spark's concat is NULL-poisoning
    # — ADVICE r11.  The CASE returns the other side verbatim, so no
    # empty-array literal (whose element type Spark could not infer)
    # is ever needed.  DuckDB 1.0's list_concat is strictly 2-ary
    # (probed: 3 args is a binder error), matching the template.
    (
        "list_concat",
        "(CASE WHEN ({X}) IS NULL THEN ({Y})"
        " WHEN ({Y}) IS NULL THEN ({X})"
        " ELSE concat(({X}), ({Y})) END)",
    ),
    # 1-based, negative-from-end on both; but DuckDB returns NULL on
    # index 0 / out-of-range where ANSI-mode element_at throws
    # (INVALID_INDEX_OF_ZERO / INVALID_ARRAY_INDEX) — ADVICE r11.
    # try_element_at is NULL out-of-range but still throws on literal
    # 0, hence the nullif guard (try_element_at(x, NULL) = NULL =
    # DuckDB's list_extract(x, 0)).
    ("list_extract", "try_element_at(({X}), nullif(({Y}), 0))"),
    ("array_extract", "try_element_at(({X}), nullif(({Y}), 0))"),
    # r12 probe wave — each probed for value/NULL parity:
    # numeric 1-arg trunc (toward zero); Spark's trunc is the 2-arg
    # DATE truncation, so the arity gate leaves that form alone
    (
        "trunc",
        "(CASE WHEN ({X}) >= 0 THEN floor(({X})) ELSE ceil(({X})) END)",
    ),
    # 2-argument regexp_extract/regexp_extract_all default to the
    # FULL MATCH (group 0) in DuckDB but group 1 in Spark (r12 probe
    # wave): for a group-bearing pattern that is a silent wrong value,
    # for a groupless one a loud REGEX_GROUP_INDEX error.  The
    # explicit-index 3-arg forms agree and pass through untouched
    # (arity gate).
    ("regexp_extract", "regexp_extract(({X}), ({Y}), 0)"),
    ("regexp_extract_all", "regexp_extract_all(({X}), ({Y}), 0)"),
    # DuckDB's list_intersect DROPS NULL matches where Spark's
    # array_intersect keeps a NULL common to both sides (probed);
    # element ORDER is unspecified on both.  list_cat / array_cat /
    # array_concat are DuckDB synonyms of list_concat and share its
    # NULL-skipping CASE (probed: list_cat(NULL, [1]) = [1]).
    (
        "list_intersect",
        "array_intersect(filter(({X}), _li -> _li IS NOT NULL), ({Y}))",
    ),
    (
        "list_cat",
        "(CASE WHEN ({X}) IS NULL THEN ({Y})"
        " WHEN ({Y}) IS NULL THEN ({X})"
        " ELSE concat(({X}), ({Y})) END)",
    ),
    (
        "array_cat",
        "(CASE WHEN ({X}) IS NULL THEN ({Y})"
        " WHEN ({Y}) IS NULL THEN ({X})"
        " ELSE concat(({X}), ({Y})) END)",
    ),
    (
        "array_concat",
        "(CASE WHEN ({X}) IS NULL THEN ({Y})"
        " WHEN ({Y}) IS NULL THEN ({X})"
        " ELSE concat(({X}), ({Y})) END)",
    ),
    # json_valid: try_parse_json is NULL exactly on invalid documents
    # ('null' and '123' are VALID JSON and parse non-null — probed);
    # the CASE keeps json_valid(NULL) = NULL (try_parse_json(NULL)
    # IS NOT NULL would say false)
    (
        "json_valid",
        "(CASE WHEN ({X}) IS NULL THEN CAST(NULL AS BOOLEAN)"
        " ELSE try_parse_json(({X})) IS NOT NULL END)",
    ),
    # fsum (Kahan-compensated sum) is DOUBLE in DuckDB even for
    # integer inputs (probed r13)
    ("fsum", "CAST(sum({X}) AS DOUBLE)"),
    # to_base(n, base): conv from decimal — uppercase digits on both
    # engines (probed: 'FF')
    ("to_base", "conv({X}, 10, {Y})"),
    # 1-argument make_timestamp takes MICROSECONDS in DuckDB (the
    # 6-argument form is native Spark and never matches this arity)
    ("make_timestamp", "timestamp_micros({X})"),
    # like_escape/ilike_escape → the LIKE … ESCAPE operator form (a
    # non-literal escape char becomes a loud parse error)
    ("like_escape", "(({X}) LIKE ({Y}) ESCAPE {Z3})"),
    ("ilike_escape", "(lower({X}) LIKE lower({Y}) ESCAPE {Z3})"),
    # quantile_disc / quantile (DuckDB's quantile IS the discrete
    # form): the element at ceil(n*q) of the sorted non-null values
    # (probed: [1,2,3,4] @ 0.5 → 2; NULLs ignored, empty → NULL).
    # Collects the group's values — fine for query-sized groups, the
    # documented memory note for huge ones (use approx_quantile).
    (
        "quantile_disc",
        "try_element_at(array_sort(array_agg({X})),"
        " greatest(1, CAST(ceil(count({X}) * ({Y})) AS INT)))",
    ),
    (
        "quantile",
        "try_element_at(array_sort(array_agg({X})),"
        " greatest(1, CAST(ceil(count({X}) * ({Y})) AS INT)))",
    ),
    # json_keys, 1-arg (r13 probe wave): DuckDB returns [] for VALID
    # non-object roots ('[1,2]', '1', 'null') and RAISES on malformed
    # input, where json_object_keys returns NULL for both
    (
        "json_keys",
        "(CASE WHEN ({X}) IS NULL THEN CAST(NULL AS ARRAY<STRING>)"
        " WHEN json_object_keys(({X})) IS NOT NULL"
        " THEN json_object_keys(({X}))"
        " WHEN try_parse_json(({X})) IS NOT NULL"
        " THEN array()"
        " ELSE CAST(raise_error(concat('json_keys: malformed JSON: ',"
        " ({X}))) AS ARRAY<STRING>) END)",
    ),
    # map_extract returns a LIST — [value] on a hit, [] on a miss or
    # NULL key (probed r13); map_filter + <=> reproduces all three
    ("map_extract", "map_values(map_filter(({X}), (_mk, _mv) -> _mk <=> ({Y})))"),
    # list_select: 1-based index projection, out-of-range → NULL
    # element (probed r13: list_select([10,20], [5]) = [NULL])
    (
        "list_select",
        "transform(({Y}), _ls -> try_element_at(({X}), CAST(_ls AS INT)))",
    ),
    # list_where: mask selection (probed: [10,20,30] × [t,f,t] →
    # [10,30]); the slice caps the index probe at the list size so an
    # empty list never builds a descending sequence
    (
        "list_where",
        "transform(filter(slice(transform("
        "sequence(1, greatest(size(({X})), 1)),"
        " _lw -> struct(try_element_at(({X}), _lw) AS v,"
        " try_element_at(({Y}), _lw) AS m)),"
        " 1, greatest(size(({X})), 0)), _lp -> _lp.m), _lp -> _lp.v)",
    ),
    # list_resize: truncate or NULL-pad (2-arg) / fill-pad (3-arg);
    # a NULL size means 0 (probed: list_resize([1], NULL) = []), a
    # NULL list stays NULL.  The 2-arg pad spells a NULL OF THE
    # ELEMENT TYPE as an out-of-range try_element_at.
    (
        "list_resize",
        "(CASE WHEN ({X}) IS NULL THEN NULL ELSE"
        " slice(transform(sequence(1,"
        " greatest(CAST(coalesce(({Y}), 0) AS INT), 1)),"
        " _lr -> CASE WHEN _lr <= size(({X}))"
        " THEN try_element_at(({X}), _lr)"
        " ELSE try_element_at(({X}), size(({X})) + 1) END),"
        " 1, greatest(CAST(coalesce(({Y}), 0) AS INT), 0)) END)",
    ),
    (
        "list_resize",
        "(CASE WHEN ({X}) IS NULL THEN NULL ELSE"
        " slice(transform(sequence(1,"
        " greatest(CAST(coalesce(({Y}), 0) AS INT), 1)),"
        " _lr -> CASE WHEN _lr <= size(({X}))"
        " THEN try_element_at(({X}), _lr)"
        " ELSE ({Z3}) END),"
        " 1, greatest(CAST(coalesce(({Y}), 0) AS INT), 0)) END)",
    ),
    # histogram: value → count map, NULLs dropped, keys ascending
    # (probed r13).  array_agg drops NULLs like DuckDB's histogram;
    # the duplicated aggregate folds to one in Catalyst.
    (
        "histogram",
        "map_from_entries((CASE WHEN count(({X})) = 0 THEN NULL"
        " ELSE transform("
        "array_sort(array_distinct(array_agg({X}))),"
        " _hv -> struct(_hv AS key,"
        " size(filter(array_agg({X}), _he -> _he <=> _hv)) AS value))"
        " END))",
    ),
    # product: NULLs skipped, empty / all-NULL group → NULL, DOUBLE
    # result (probed r13)
    (
        "product",
        "(CASE WHEN count(({X})) = 0 THEN CAST(NULL AS DOUBLE)"
        " ELSE aggregate(array_agg({X}), CAST(1.0 AS DOUBLE),"
        " (_pa, _px) -> _pa * _px) END)",
    ),
    # entropy: Shannon entropy in BITS (log2) over the value
    # distribution, NULLs dropped, empty group → 0.0 (probed r13)
    (
        "entropy",
        "(CASE WHEN count(({X})) = 0 THEN CAST(0.0 AS DOUBLE)"
        " ELSE aggregate(transform(array_distinct(array_agg({X})),"
        " _ev -> size(filter(array_agg({X}), _ee -> _ee <=> _ev))),"
        " CAST(0.0 AS DOUBLE), (_ea, _ec) -> _ea"
        " - (_ec / CAST(count(({X})) AS DOUBLE))"
        " * log2(_ec / CAST(count(({X})) AS DOUBLE))) END)",
    ),
]


# list_aggregate's bridged function names → the repo's existing
# NULL-exact list forms ('sum'/'count' re-enter the compat-UDF /
# wrapped-call pipeline; min/max map straight to Spark builtins that
# skip NULLs exactly like DuckDB — W5 battery)
_LIST_AGG_MAP = {
    "sum": "list_sum({X})",
    "count": "list_count({X})",
    "min": "array_min({X})",
    "max": "array_max({X})",
    "avg": "list_avg({X})",
    "mean": "list_avg({X})",
}


def _rewrite_list_aggregate(masked: str, literals: list[str]) -> str:
    """DuckDB's generic ``list_aggregate(l, 'name'[, arg])`` (aliases
    ``list_aggr``, ``aggregate``) for the mechanically-safe name set
    (r13 probe wave): sum/count/min/max/avg map to the repo's
    NULL-exact list forms; ``string_agg`` (default separator ``,`` —
    probed) joins non-NULL elements with the empty/all-NULL/NULL list
    → NULL.  Other names refuse loudly.  The bare ``aggregate`` alias
    only fires when the second argument is a literal IN the name set,
    so Spark's ``aggregate(arr, start, merge)`` HOF — whose start may
    be a string literal — is never touched."""

    def fix_for(strict: bool):
        def fix(args: list[str]):
            if len(args) not in (2, 3):
                return None
            lit = _literal_of(args[1], literals)
            if lit is None:
                return None
            name = lit[1:-1].lower()
            if name == "string_agg":
                if len(args) == 3:
                    sep = args[2]
                else:
                    literals.append("','")
                    sep = f"{_MASK}{len(literals) - 1}{_MASK}"
                x = args[0]
                return (
                    f"(CASE WHEN ({x}) IS NULL OR"
                    f" size(filter(({x}), _sa -> _sa IS NOT NULL)) <= 0"
                    f" THEN CAST(NULL AS STRING)"
                    f" ELSE array_join(({x}), {sep}) END)"
                )
            tpl = _LIST_AGG_MAP.get(name)
            if tpl is None or len(args) != 2:
                if not strict:
                    return None  # bare `aggregate`: leave Spark's HOF
                raise DialectError(
                    f"list_aggregate({lit}) is not bridged — supported"
                    " names: sum, count, min, max, avg/mean,"
                    " string_agg; spell other aggregates directly"
                    " (e.g. sort + element_at for median)"
                )
            return tpl.replace("{X}", args[0])

        return fix

    masked = _rewrite_calls(masked, "list_aggregate", fix_for(True))
    masked = _rewrite_calls(masked, "list_aggr", fix_for(True))
    masked = _rewrite_calls(masked, "aggregate", fix_for(False))
    return masked


_CLAUSE_OR_SETOP_RE = re.compile(
    r"\b(FROM|WHERE|GROUP|HAVING|QUALIFY|WINDOW|ORDER|LIMIT|OFFSET"
    r"|UNION|INTERSECT|EXCEPT|MINUS|LATERAL)\b",
    re.I,
)


def _lateral_unnest_repl(m: re.Match) -> str:
    return f" LATERAL VIEW explode({m.group(1)}) {m.group(2)} AS {m.group(3)}"


def _rewrite_lateral_unnest(masked: str) -> str:
    """DuckDB's comma-lateral unnest — ``FROM t, unnest(t.arr) AS
    u(x)`` — correlates implicitly; Spark's FROM-position explode TVF
    cannot (r13 probe: UNRESOLVED_COLUMN).  The parenthesized
    column-alias form only exists in FROM position, so it is the
    rewrite's signal: the comma becomes a LATERAL VIEW."""
    return re.sub(
        r",\s*explode\s*(\((?:[^()\x00]|\x00\d+\x00|\([^()]*\))*\))"
        r"\s+(?:AS\s+)?(\w+)\s*\(\s*(\w+)\s*\)",
        _lateral_unnest_repl,
        masked,
        flags=re.I,
    )


def _rewrite_parallel_unnest(masked: str) -> str:
    """PARALLEL unnests in one select list ZIP in DuckDB — rows pair
    up positionally, shorter lists NULL-pad to the longest (probed
    r13: unnest([1,2]), unnest(['x','y','z']) → 3 rows) — where
    Spark's multi-generator projection produces the CROSS PRODUCT
    silently (the worst class: silent wrong rows).  Each select list
    with two or more depth-0 ``explode(`` calls (the unnest alias has
    already run) rewrites to ONE index-driven zip: a LATERAL VIEW
    explodes struct(try_element_at(E_k, i) …) over sequence(1, max
    size) — try_element_at supplies the NULL padding — and each
    ``explode(E_k)`` occurrence becomes the struct field reference.
    Nested subqueries' explodes sit at depth > 0 and are invisible to
    the outer list (each inner SELECT gets its own scan).  A select
    list without FROM gains a one-row dummy source."""
    while True:
        changed = False
        for sm in re.finditer(r"\bSELECT\b", masked, re.I):
            start = sm.end()
            depth = 0
            end = len(masked)
            end_kw = None
            i = start
            while i < len(masked):
                ch = masked[i]
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    if depth == 0:
                        end = i
                        break
                    depth -= 1
                elif depth == 0 and ch.isalpha() and not (
                    masked[i - 1].isalnum() or masked[i - 1] == "_"
                ):
                    km = _CLAUSE_OR_SETOP_RE.match(masked, i)
                    if km:
                        end = i
                        end_kw = km.group(1).upper()
                        break
                i += 1
            span = masked[start:end]
            # lookahead: a consumed '(' would corrupt _d0_matches'
            # depth tracking
            hits = list(_d0_matches(span, r"\bexplode\b(?=\s*\()"))
            if len(hits) < 2:
                continue
            # extract each explode's argument; replace with the zip
            # struct's field reference
            exprs: list[str] = []
            new_span = []
            prev = 0
            ok = True
            for h in hits:
                open_idx = span.index("(", h.end() - 1)
                close = _match_paren(span, open_idx)
                if close == -1:
                    ok = False
                    break
                exprs.append(span[open_idx + 1 : close - 1].strip())
                new_span.append(span[prev : h.start()])
                new_span.append(f"__pz.__pz{len(exprs) - 1}")
                prev = close
            if not ok:
                continue
            new_span.append(span[prev:])
            sizes = ", ".join(
                f"coalesce(size({e}), 0)" for e in exprs
            )
            n = f"greatest({sizes})" if len(exprs) > 1 else sizes
            fields = ", ".join(
                f"try_element_at({e}, __pzi) AS __pz{k}"
                for k, e in enumerate(exprs)
            )
            zip_expr = (
                f"transform(CASE WHEN {n} < 1 THEN array()"
                f" ELSE sequence(1, {n}) END,"
                f" __pzi -> struct({fields}))"
            )
            lview = f" LATERAL VIEW explode({zip_expr}) __pzt AS __pz "
            if end_kw == "FROM":
                # insert after the full FROM clause: before the next
                # depth-0 clause keyword (not FROM/LATERAL) or span end
                j = end + 4
                d2 = 0
                ins = len(masked)
                while j < len(masked):
                    ch = masked[j]
                    if ch == "(":
                        d2 += 1
                    elif ch == ")":
                        if d2 == 0:
                            ins = j
                            break
                        d2 -= 1
                    elif d2 == 0 and ch.isalpha() and not (
                        masked[j - 1].isalnum() or masked[j - 1] == "_"
                    ):
                        km = _CLAUSE_OR_SETOP_RE.match(masked, j)
                        if km and km.group(1).upper() not in (
                            "FROM",
                            "LATERAL",
                        ):
                            ins = j
                            break
                    j += 1
                masked = (
                    masked[:start]
                    + "".join(new_span)
                    + masked[end:ins]
                    + lview
                    + masked[ins:]
                )
            else:
                masked = (
                    masked[:start]
                    + "".join(new_span)
                    + " FROM (SELECT 1) __pzsrc"
                    + lview
                    + masked[end:]
                )
            changed = True
            break  # offsets shifted — rescan
        if not changed:
            return masked


_DATE_SUB_PARTS = {
    "year": "YEAR", "years": "YEAR", "quarter": "QUARTER",
    "quarters": "QUARTER", "month": "MONTH", "months": "MONTH",
    "week": "WEEK", "weeks": "WEEK", "day": "DAY", "days": "DAY",
    "hour": "HOUR", "hours": "HOUR", "minute": "MINUTE",
    "minutes": "MINUTE", "second": "SECOND", "seconds": "SECOND",
    "millisecond": "MILLISECOND", "milliseconds": "MILLISECOND",
    "microsecond": "MICROSECOND", "microseconds": "MICROSECOND",
}


def _rewrite_date_sub(masked: str, literals: list[str]) -> str:
    """3-argument ``date_sub('part', a, b)`` / ``datesub`` counts
    COMPLETE part intervals between a and b (DuckDB, probed r13 —
    NOT date_diff's boundary count) = Spark's timestampdiff exactly.
    Spark's own 2-argument date_sub(date, days) never matches this
    arity."""

    def fix(args: list[str]):
        if len(args) != 3:
            return None
        lit = _literal_of(args[0], literals)
        if lit is None:
            return None
        part = _DATE_SUB_PARTS.get(lit[1:-1].lower())
        if part is None:
            raise DialectError(
                f"date_sub part {lit} is not bridged — supported:"
                f" {sorted(set(_DATE_SUB_PARTS.values()))}"
            )
        return (
            f"timestampdiff({part}, CAST(({args[1]}) AS TIMESTAMP),"
            f" CAST(({args[2]}) AS TIMESTAMP))"
        )

    masked = _rewrite_calls(masked, "date_sub", fix)
    return _rewrite_calls(masked, "datesub", fix)


def _rewrite_json_keys2(masked: str, literals: list[str]) -> str:
    """2-argument ``json_keys(doc, path)`` (r13 probe wave): keys of
    the element AT the path — NULL when the path is absent, ``[]``
    for a non-object element, a raise for a malformed document
    (DuckDB probed).  A literal bare-key/dotted path gets the ``$.``
    prefix get_json_object needs; JSON-pointer paths (leading ``/``)
    refuse — their array-index steps have no faithful ``$`` twin."""

    def fix(args: list[str]):
        if len(args) != 2:
            return None
        x, p = args[0].strip(), args[1].strip()
        lm = _LONE_MASK_RE.match(p)
        if lm is not None and literals[int(lm.group(1))][:1] == "'":
            path = literals[int(lm.group(1))][1:-1]
            if path.startswith("/"):
                raise DialectError(
                    "json_keys with a JSON-pointer path ('/a/0') is"
                    " not bridged: use the $-style path ('$.a[0]')"
                )
            if not path.startswith("$"):
                path = "$." + path
            literals.append("'" + path + "'")
            p = f"{_MASK}{len(literals) - 1}{_MASK}"
        elem = f"get_json_object(({x}), {p})"
        return (
            f"(CASE WHEN ({x}) IS NULL OR ({p}) IS NULL"
            f" THEN CAST(NULL AS ARRAY<STRING>)"
            f" WHEN try_parse_json(({x})) IS NULL"
            f" THEN CAST(raise_error(concat('json_keys: malformed"
            f" JSON: ', ({x}))) AS ARRAY<STRING>)"
            f" WHEN {elem} IS NULL THEN CAST(NULL AS ARRAY<STRING>)"
            f" WHEN json_object_keys({elem}) IS NOT NULL"
            f" THEN json_object_keys({elem})"
            f" ELSE array() END)"
        )

    return _rewrite_calls(masked, "json_keys", fix)


def _rewrite_wrapped_calls(masked: str) -> str:
    """Apply :data:`_WRAPPED_CALLS` with balanced-paren argument
    extraction.  The template's placeholder count ({X}, or {X} + {Y})
    fixes the expected arity; a call with a different argument count
    (e.g. ``list_sort(l, 'DESC')``) is left in place as a loud
    analysis error rather than half-bridged."""
    for fname, tpl in _WRAPPED_CALLS:
        argc = 3 if "{Z3}" in tpl else 2 if "{Y}" in tpl else 1
        pat = re.compile(rf"\b{fname}\s*\(", re.I)
        pos = 0
        while True:
            m = pat.search(masked, pos)
            if m is None:
                break
            open_idx = masked.index("(", m.end() - 1)
            close = _match_paren(masked, open_idx)
            inner = masked[open_idx + 1 : close - 1] if close != -1 else ""
            args = _split_d0_commas(inner) if close != -1 else []
            if close == -1 or len(args) != argc:
                pos = m.end()  # unmodeled form: skip it, keep scanning
                continue
            repl = tpl.replace("{X}", args[0].strip())
            if argc >= 2:
                repl = repl.replace("{Y}", args[1].strip())
            if argc == 3:
                repl = repl.replace("{Z3}", args[2].strip())
            masked = masked[: m.start()] + repl + masked[close:]
            pos = m.start()  # rescan: the argument may hold another call
    return masked


_LAMBDA2_RE = re.compile(r"^\(\s*\w+\s*,\s*\w+\s*\)\s*->")
_LAMBDA3_RE = re.compile(r"^\(\s*\w+\s*,\s*\w+\s*,\s*\w+\s*\)\s*->")


def _rewrite_list_lambda_calls(masked: str) -> str:
    """list_reduce(l, (a, b) -> …): DuckDB seeds with the FIRST
    element (an empty list raises) where Spark's aggregate needs an
    explicit zero — seeded as element_at(l, 1), whose ANSI
    out-of-bounds error reproduces the empty-list raise.  The
    3-parameter index variant refuses loudly (Spark's fold lambda is
    binary)."""

    def reduce_fix(args: list[str]):
        if len(args) != 2:
            return None
        lam = args[1].strip()
        if _LAMBDA3_RE.match(lam):
            raise DialectError(
                "list_reduce with the 3-parameter (acc, x, i) lambda"
                " is not bridged: zip the index in explicitly —"
                " list_zip(l, generate_series(1, len(l))) — and"
                " reduce over the pairs"
            )
        if not _LAMBDA2_RE.match(lam):
            return None
        x = args[0]
        return (
            f"aggregate(slice(({x}), 2, greatest(size(({x})) - 1, 0)),"
            f" element_at(({x}), 1), {lam})"
        )

    masked = _rewrite_calls(masked, "list_reduce", reduce_fix)
    masked = _rewrite_calls(masked, "reduce", reduce_fix)
    return masked


def _rewrite_list_zip(masked: str) -> str:
    """list_zip(l1, l2, …[, truncate]): structs of parallel elements,
    NULL-padded to the LONGEST list (or truncated to the shortest
    with the flag — probed r13).  Spelled as an index-driven
    transform building ``col1…colN`` structs — the same positional
    field names struct() produces, so the positional struct_extract
    bridge composes.  The slice cap keeps the sequence ascending for
    empty lists."""

    def fix(args: list[str]):
        if len(args) < 1:
            return None
        truncate = False
        lists = args
        last = args[-1].strip().lower()
        if last in ("true", "false"):
            truncate = last == "true"
            lists = args[:-1]
            if not lists:
                return None
        sizes = ", ".join(f"size(({a}))" for a in lists)
        bound = "least" if truncate else "greatest"
        length = f"{bound}({sizes})" if len(lists) > 1 else f"size(({lists[0]}))"
        fields = ", ".join(
            f"try_element_at(({a}), _zi) AS col{i}"
            for i, a in enumerate(lists, start=1)
        )
        return (
            f"slice(transform(sequence(1, greatest({length}, 1)),"
            f" _zi -> struct({fields})), 1, greatest({length}, 0))"
        )

    return _rewrite_calls(masked, "list_zip", fix)


def _rewrite_list_sort_args(masked: str, literals: list[str]) -> str:
    """list_sort's literal direction/null-order options and
    list_grade_up (the 1-based permutation that sorts the list,
    stable on ties — probed r13).  Option mapping probed: the
    defaults are ASC + NULLS LAST in both directions."""

    def sort_fix(args: list[str]):
        if len(args) not in (2, 3):
            return None
        opts = []
        for a in args[1:]:
            lit = _literal_of(a, literals)
            if lit is None:
                return None  # non-literal option: loud downstream
            opts.append(lit[1:-1].strip().upper())
        desc = opts[0] == "DESC"
        nulls_first = len(opts) > 1 and opts[1] == "NULLS FIRST"
        x = args[0]
        if not desc and not nulls_first:
            return f"array_sort(({x}))"
        if not desc and nulls_first:
            return f"sort_array(({x}), true)"
        if desc and not nulls_first:
            return f"sort_array(({x}), false)"
        return f"reverse(array_sort(({x})))"

    def grade_fix(args: list[str]):
        if len(args) not in (1, 2):
            return None
        desc = False
        if len(args) == 2:
            lit = _literal_of(args[1], literals)
            if lit is None:
                return None
            desc = lit[1:-1].strip().upper() == "DESC"
        x = args[0]
        pairs = (
            f"slice(transform(sequence(1, greatest(size(({x})), 1)),"
            f" _gi -> struct(try_element_at(({x}), _gi) AS v,"
            f" _gi AS i)), 1, greatest(size(({x})), 0))"
        )
        if not desc:
            # struct compare sorts by v then i: ascending, stable
            return f"transform(array_sort({pairs}), _gs -> _gs.i)"
        cmp = (
            "(_ga, _gb) -> CASE"
            " WHEN _ga.v IS NULL AND _gb.v IS NULL THEN"
            "  CASE WHEN _ga.i < _gb.i THEN -1 ELSE 1 END"
            " WHEN _ga.v IS NULL THEN 1 WHEN _gb.v IS NULL THEN -1"
            " WHEN _ga.v > _gb.v THEN -1 WHEN _ga.v < _gb.v THEN 1"
            " WHEN _ga.i < _gb.i THEN -1 ELSE 1 END"
        )
        return f"transform(array_sort({pairs}, {cmp}), _gs -> _gs.i)"

    masked = _rewrite_calls(masked, "list_sort", sort_fix)
    masked = _rewrite_calls(masked, "list_grade_up", grade_fix)
    return masked


def _rewrite_parse_path_args(masked: str, literals: list[str]) -> str:
    """Normalize the parse_path family's optional arguments onto the
    full-arity compat functions: parse_path/parse_dirpath/
    parse_dirname(p[, sep]) and parse_filename(p[, trim_ext][, sep])
    — a lone 2nd argument that is a string literal is the SEPARATOR
    (DuckDB's flexible overload, probed r13), anything else is the
    trim flag."""

    def two_arg(name: str):
        def fix(args: list[str]):
            if len(args) == 1:
                return f"{name}({args[0]}, 'system')"
            return None

        return fix

    for fname in ("parse_path", "parse_dirpath", "parse_dirname"):
        masked = _rewrite_calls(masked, fname, two_arg(fname))

    def filename_fix(args: list[str]):
        if len(args) == 1:
            return f"parse_filename({args[0]}, false, 'system')"
        if len(args) == 2:
            if _literal_of(args[1], literals) is not None:
                return f"parse_filename({args[0]}, false, {args[1]})"
            return f"parse_filename({args[0]}, {args[1]}, 'system')"
        return None

    return _rewrite_calls(masked, "parse_filename", filename_fix)


_NULLS_MOD_RE = re.compile(r"\s+(IGNORE|RESPECT)\s+NULLS\s*$", re.I)
_NULLS_MOD_FNS = ("first_value", "last_value", "nth_value", "lag", "lead")


def _rewrite_ignore_nulls(masked: str) -> str:
    """DuckDB spells the null-skipping modifier INSIDE the window
    call (``last_value(v IGNORE NULLS) OVER …``) where Spark requires
    it between the call and OVER (``last_value(v) IGNORE NULLS OVER
    …``) — a parse error until r13, now moved out mechanically."""
    for fname in _NULLS_MOD_FNS:

        def fix(args: list[str], _fname=fname):
            if not args:
                return None
            m = _NULLS_MOD_RE.search(args[-1])
            if m is None:
                return None
            last = args[-1][: m.start()]
            inner = ", ".join([*args[:-1], last.strip()])
            return f"{_fname}({inner}) {m.group(1).upper()} NULLS"

        masked = _rewrite_calls(masked, fname, fix)
    return masked


def _rewrite_struct_extract(masked: str, literals: list[str]) -> str:
    """``struct_extract(s, 'name')`` → ``(s).name`` and the
    positional ``struct_extract(s, n)`` → ``(s).coln`` (exact for
    row()/struct()-built structs, whose Spark field names are col1…;
    a NAMED struct has no colN field, so the positional form on one
    fails loudly rather than silently).  A non-literal key refuses —
    Spark has no runtime struct subscript."""

    def fix(args: list[str]):
        if len(args) != 2:
            return None
        lit = _literal_of(args[1], literals)
        if lit is not None:
            name = lit[1:-1].replace("''", "'")
            if not re.fullmatch(r"[A-Za-z_]\w*", name):
                return f"(({args[0]}).`{name}`)"
            return f"(({args[0]}).{name})"
        n = _int_literal_of(args[1])
        if n is not None and n >= 1:
            return f"(({args[0]}).col{n})"
        raise DialectError(
            "struct_extract needs a literal field name or position"
            " (Spark has no runtime struct subscript): spell the"
            " field access s.name directly"
        )

    return _rewrite_calls(masked, "struct_extract", fix)


def _rewrite_json_extract(masked: str, literals: list[str]) -> str:
    """``json_extract_string(j, '$.path')`` (DuckDB's ``->>``
    semantics) → ``get_json_object(j, '$.path')`` — exact for
    ``$``-style paths.  Guarded: a non-``$`` path (DuckDB also accepts
    bare keys and ``/``-pointer syntax) would make get_json_object
    return NULL silently, so those refuse with the rewrite named.
    Plain ``json_extract`` is NOT bridged — it returns the JSON
    representation (strings keep their quotes) where get_json_object
    unquotes scalars; a DialectError names both replacements."""
    if re.search(r"\bjson_extract\s*\(", masked, flags=re.I):
        raise DialectError(
            "json_extract() is not bridged (it returns JSON text —"
            " strings keep their quotes — where Spark's"
            " get_json_object unquotes): use json_extract_string(j,"
            " '$.path') for ->> semantics or get_json_object directly"
        )

    def repl(m):
        lit = literals[int(m.group(2))]
        if lit[:1] == "'" and lit[1:2] == "$":
            return f"get_json_object({m.group(1)}, {_MASK}{m.group(2)}{_MASK})"
        raise DialectError(
            f"json_extract_string path {lit} is not bridged: only"
            " '$'-style paths map to get_json_object (bare-key and"
            " /pointer paths would return NULL silently) — rewrite"
            " the path as '$.key'"
        )

    return re.sub(
        rf"\bjson_extract_string\s*\(\s*([^,()]+(?:\([^()]*\))?[^,()]*)"
        rf"\s*,\s*{_MASK}(\d+){_MASK}\s*\)",
        repl,
        masked,
        flags=re.I,
    )


def _rewrite_regexp_flags(masked: str, literals: list[str]) -> str:
    """DuckDB's FOURTH regexp_replace argument is an options string
    (``'g'`` = global); Spark's fourth is a start POSITION, so the
    call shape fails analysis and reaches the rewriter.  A pure-'g'
    flag simply drops — Spark's regexp_replace already replaces every
    occurrence.  Any other flag set raises: silently dropping 'i'/'s'
    would change match semantics, and the fix (``(?i)`` in the
    pattern) is a one-token edit.  The THREE-argument form is a
    fallback BLIND SPOT (valid in both dialects, FIRST occurrence in
    DuckDB vs ALL in Spark) — see the module docstring.  A depth-0
    comma count guards the match: a nested three-argument call
    followed by an outer literal argument must not lose that literal
    (``foo(regexp_replace(a, p, r), 'g')`` stays untouched)."""
    def repl(m):
        head = m.group(1)
        args = head[head.index("(") + 1 :]
        depth = commas = 0
        for ch in args:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                commas += 1
        if commas != 2:  # not the 4-argument options shape
            return m.group(0)
        lit = literals[int(m.group(2))]
        if lit[:1] == "'" and lit[1:-1] == "g":
            return head + ")"
        raise DialectError(
            f"regexp_replace options {lit} are not bridged: only 'g'"
            " maps (Spark already replaces all occurrences); move"
            " other options into the pattern, e.g. (?i) for"
            " case-insensitive"
        )

    return re.sub(
        rf"\b(regexp_replace\s*\((?:[^()]|\([^()]*\))*)"
        rf",\s*{_MASK}(\d+){_MASK}\s*\)",
        repl,
        masked,
        flags=re.I,
    )


def _rewrite_strftime(masked: str, literals: list[str]) -> str:
    """``strftime(<expr>, '<fmt>')`` → ``date_format(expr, ...)`` on
    the literal-masked text; the format placeholder must be the second
    argument of the call shape (no nested commas in expr)."""
    def repl(m):
        lit = literals[int(m.group(2))]
        if lit[:1] != "'":
            return m.group(0)
        # literal alphabetic characters translate to Java-quoted 'T'
        # forms; inside the SQL literal those quotes must DOUBLE or
        # the spliced statement is a parse error for every ISO-style
        # format like '%Y-%m-%dT%H' (r11 differential probe catch)
        translated = _strftime_to_java(lit[1:-1]).replace("'", "''")
        return f"date_format({m.group(1)}, '{translated}')"

    return re.sub(
        rf"\bstrftime\s*\(\s*([^,()]+(?:\([^()]*\))?[^,()]*)\s*,\s*{_MASK}(\d+){_MASK}\s*\)",
        repl,
        masked,
        flags=re.I,
    )


# ------------------------------------------------------------ file scans

# DuckDB table function → Spark USING-format path scan. The reference
# loads the json/httpfs/aws extensions (duckdb/duckdb.go:80-98), so
# these call shapes appear in saved user queries. read_csv maps to a
# headerless scan (Spark's ``csv.`p``` has no option surface) — auto
# header detection is the one read_csv_auto nicety not carried over.
_SCAN_FUNCS = {
    "read_parquet": "parquet",
    "parquet_scan": "parquet",
    "read_json_auto": "json",
    "read_ndjson_auto": "json",
    "read_json": "json",
    "read_ndjson": "json",
    "read_json_objects": "json",
    "read_csv_auto": "csv",
    "read_csv": "csv",
}
_SCAN_FUNC_RE = re.compile(
    rf"\b({'|'.join(_SCAN_FUNCS)})\s*\(\s*{_MASK}(\d+){_MASK}\s*\)", re.I
)
# list form ``read_parquet(['a', 'b'])`` — by this point the bracket
# pass turned the literal into ``array('a', 'b')``
_SCAN_LIST_RE = re.compile(
    rf"\b({'|'.join(_SCAN_FUNCS)})\s*\(\s*array\("
    rf"\s*{_MASK}\d+{_MASK}(?:\s*,\s*{_MASK}\d+{_MASK})*\s*\)\s*\)",
    re.I,
)
# bare ``FROM 'x.parquet'`` — DuckDB infers the reader from the
# extension; only FROM/JOIN positions rewrite (a literal anywhere else
# is a value, not a table)
_SCAN_EXTS = {
    ".parquet": "parquet",
    ".pq": "parquet",
    ".csv": "csv",
    ".csv.gz": "csv",
    ".tsv": "csv",
    ".json": "json",
    ".jsonl": "json",
    ".ndjson": "json",
    ".json.gz": "json",
    ".jsonl.gz": "json",
    ".ndjson.gz": "json",
}
_SCAN_BARE_RE = re.compile(rf"\b(FROM|JOIN)\s+{_MASK}(\d+){_MASK}", re.I)


def _scan_path(lit: str) -> str | None:
    """Unquote a masked string literal into a path, or None if it is
    not a plain quoted string (or would break a backtick-quoted
    Spark path)."""
    if lit[:1] not in ("'", '"') or len(lit) < 2 or lit[-1] != lit[0]:
        return None
    path = lit[1:-1].replace(lit[0] * 2, lit[0])
    if "`" in path or "\x00" in path or not path:
        return None
    return path


def _rewrite_file_scans(masked: str, literals: list[str]) -> str:
    """``read_parquet('p')`` → ``parquet.`p``` and bare
    ``FROM 'x.parquet'`` → ``FROM parquet.`x.parquet```. Single
    literal-path argument only: a call carrying reader options or a
    path LIST passes through untouched — a loud analysis error beats
    silently dropping options. Globs survive verbatim (both engines
    expand ``*``/``?`` in paths)."""

    def func_repl(m):
        path = _scan_path(literals[int(m.group(2))])
        if path is None:
            return m.group(0)
        return f"{_SCAN_FUNCS[m.group(1).lower()]}.`{path}`"

    def list_repl(m):
        """Path LIST → a UNION ALL chain of single-path scans.
        Positional union: correct for the homogeneous file lists the
        call shape means in practice (DuckDB also unifies the list's
        schemas); files with reordered columns are out of scope."""
        fmt = _SCAN_FUNCS[m.group(1).lower()]
        paths = [
            _scan_path(literals[int(i)])
            for i in re.findall(rf"{_MASK}(\d+){_MASK}", m.group(0))
        ]
        if not paths or any(p is None for p in paths):
            return m.group(0)
        scans = " UNION ALL ".join(f"SELECT * FROM {fmt}.`{p}`" for p in paths)
        return f"({scans})"

    def bare_repl(m):
        prefix = masked[: m.start()]
        # expression-level FROM keywords are not relation positions:
        # ``IS [NOT] DISTINCT FROM <lit>``, and the SQL-standard
        # function forms ``trim(... FROM x)`` / ``substring(x FROM n)``
        # / ``extract(f FROM x)`` — the latter all sit inside a
        # function call, i.e. the nearest unclosed ``(`` is preceded
        # by an identifier (a derived-table paren never is).
        if m.group(1).upper() == "FROM":
            if re.search(r"\bIS\s+(NOT\s+)?DISTINCT\s*$", prefix, flags=re.I):
                return m.group(0)
            depth = 0
            for i in range(len(prefix) - 1, -1, -1):
                if prefix[i] == ")":
                    depth += 1
                elif prefix[i] == "(":
                    if depth == 0:
                        before = prefix[:i].rstrip()
                        if before and (before[-1].isalnum() or before[-1] == "_"):
                            return m.group(0)  # function-call paren
                        break
                    depth -= 1
        path = _scan_path(literals[int(m.group(2))])
        if path is None:
            return m.group(0)
        low = path.lower()
        for ext, fmt in _SCAN_EXTS.items():
            if low.endswith(ext):
                return f"{m.group(1)} {fmt}.`{path}`"
        return m.group(0)

    masked = _SCAN_FUNC_RE.sub(func_repl, masked)
    masked = _SCAN_LIST_RE.sub(list_repl, masked)
    return _SCAN_BARE_RE.sub(bare_repl, masked)


# ------------------------------------------------------------- asof join

_ASOF_RE = re.compile(
    # right relation: identifier chain or masked backtick identifier,
    # optional [AS] alias, then ON
    rf"\bASOF\s+(?P<outer>LEFT\s+)?JOIN\s+"
    rf"(?P<rtab>[\w.$]+|{_MASK}\d+{_MASK})"
    rf"(?:\s+(?:AS\s+)?(?P<ralias>(?!ON\b)\w+))?"
    rf"\s+ON\s+",
    re.I,
)
_ASOF_END_RE = re.compile(
    r"\bWHERE\b|\bGROUP\b|\bHAVING\b|\bWINDOW\b|\bQUALIFY\b|\bORDER\b"
    r"|\bLIMIT\b|\bUNION\b|\bINTERSECT\b|\bEXCEPT\b|\bMINUS\b"
    r"|\bJOIN\b|\bASOF\b|\bLEFT\b|\bRIGHT\b|\bFULL\b|\bINNER\b|\bCROSS\b|,|;",
    re.I,
)
_ASOF_INEQ_RE = re.compile(r"(?<![<>=!])(>=|<=|>|<)(?![=>])")


def _split_top_and(cond: str) -> list[str]:
    """Split a condition on depth-0 ANDs (masked text — no literals)."""
    parts, depth, start = [], 0, 0
    for m in re.finditer(r"[()]|\bAND\b", cond, flags=re.I):
        if m.group(0) == "(":
            depth += 1
        elif m.group(0) == ")":
            depth -= 1
        elif depth == 0:
            parts.append(cond[start : m.start()])
            start = m.end()
    parts.append(cond[start:])
    return [p.strip() for p in parts if p.strip()]


_EQ_RE = re.compile(r"(?<![<>!=])=(?!=)")


def _rewrite_asof_join(masked: str, literals: list[str]) -> str:
    """DuckDB ``l ASOF [LEFT] JOIN r ON eqs AND ineq`` → the
    union+window form (same single-shuffle plan as the DataFrame
    operator, operators/asof.py:29), generated without knowing either
    table's columns by packing each side into a struct:

    1. each side contributes (join keys, asof ts, side tag, its whole
       row as a struct) to a UNION ALL;
    2. one window per key — ordered by ts then side — carries the most
       recent right-struct forward (``last(...) IGNORE NULLS`` over
       ROWS UNBOUNDED PRECEDING);
    3. left rows re-emerge as struct columns NAMED the original
       aliases, so the untouched outer SELECT/WHERE/ORDER BY resolve
       ``la.x`` as struct-field access.

    A correlated-LATERAL formulation would be shorter but Catalyst
    decorrelates its non-equi LIMIT 1 into a nested-loop domain join —
    quadratic in practice (measured minutes at sf0.1 where this form
    takes tens of ms). Requires simple left/right relations with
    identifiable aliases, alias-qualified ON terms, and exactly one
    inequality; anything else passes through for Spark to reject
    loudly rather than guess. Ties on (ts, side) are resolved
    arbitrarily, matching DuckDB; unqualified columns in the outer
    SELECT won't resolve against the struct form (qualify them)."""
    m = _ASOF_RE.search(masked)
    if m is None:
        return masked
    if _ASOF_RE.search(masked, m.end()):
        return masked  # multiple ASOF joins: give up, let Spark reject
    rtab = m.group("rtab")
    ralias = m.group("ralias") or (
        rtab.split(".")[-1] if not rtab.startswith(_MASK) else None
    )
    if ralias is None:
        return masked
    # left relation: the nearest depth-0 FROM must be followed by ONE
    # simple relation (table/CTE + optional alias) up to the ASOF
    fm = None
    for f in re.finditer(r"\bFROM\b", masked[: m.start()], flags=re.I):
        fm = f
    if fm is None:
        return masked
    lm = re.fullmatch(
        rf"\s*(?P<ltab>[\w.$]+|{_MASK}\d+{_MASK})"
        rf"(?:\s+(?:AS\s+)?(?P<lalias>\w+))?\s*",
        masked[fm.end() : m.start()],
        flags=re.I,
    )
    if lm is None:
        return masked
    ltab = lm.group("ltab")
    lalias = lm.group("lalias") or (
        ltab.split(".")[-1] if not ltab.startswith(_MASK) else None
    )
    if lalias is None or lalias.upper() == ralias.upper():
        return masked
    # ON-condition extent: up to the next depth-0 clause keyword
    end = len(masked)
    for t in _ASOF_END_RE.finditer(masked, m.end()):
        seg = masked[m.end() : t.start()]
        if seg.count("(") == seg.count(")"):  # token is at depth 0
            end = t.start()
            break
    cond = masked[m.end() : end].strip()
    if not cond:
        return masked
    r_alias_re = re.compile(rf"\b{re.escape(ralias)}\s*\.", re.I)
    l_alias_re = re.compile(rf"\b{re.escape(lalias)}\s*\.", re.I)

    def side_of(expr: str) -> str | None:
        r_has, l_has = bool(r_alias_re.search(expr)), bool(l_alias_re.search(expr))
        if r_has and not l_has:
            return "r"
        if l_has and not r_has:
            return "l"
        return None

    eq_keys: list[tuple[str, str]] = []  # (left expr, right expr)
    l_ts = r_ts = None
    backward = inclusive = None
    for c in _split_top_and(cond):
        ineqs = list(_ASOF_INEQ_RE.finditer(c))
        eqs = list(_EQ_RE.finditer(c))
        if len(eqs) == 1 and not ineqs:
            a, b = c[: eqs[0].start()].strip(), c[eqs[0].end() :].strip()
            sa, sb = side_of(a), side_of(b)
            if sa == "l" and sb == "r":
                eq_keys.append((a, b))
            elif sa == "r" and sb == "l":
                eq_keys.append((b, a))
            else:
                return masked  # unqualified or mixed-side equality
            continue
        if len(ineqs) == 1 and not eqs:
            if l_ts is not None:
                return masked  # two inequalities: ambiguous
            op = ineqs[0].group(1)
            a, b = c[: ineqs[0].start()].strip(), c[ineqs[0].end() :].strip()
            sa, sb = side_of(a), side_of(b)
            if sa == "l" and sb == "r":  # l_ts op r_ts
                l_ts, r_ts = a, b
                backward = op in (">=", ">")
                inclusive = op in (">=", "<=")
            elif sa == "r" and sb == "l":  # r_ts op l_ts
                l_ts, r_ts = b, a
                backward = op in ("<=", "<")
                inclusive = op in (">=", "<=")
            else:
                return masked
            continue
        return masked  # a conjunct that is neither plain eq nor ineq
    if l_ts is None:
        return masked
    lkeys = "".join(f"{e} AS __k{i}, " for i, (e, _) in enumerate(eq_keys))
    rkeys = "".join(f"{e}, " for _, e in eq_keys)
    partition = (
        "PARTITION BY " + ", ".join(f"__k{i}" for i in range(len(eq_keys)))
        if eq_keys
        else ""
    )
    ts_dir = "ASC" if backward else "DESC"
    side_dir = "ASC" if inclusive else "DESC"  # right (0) first iff inclusive
    inner = "" if m.group("outer") else " AND __r IS NOT NULL"
    # NULL semantics must match DuckDB's ASOF (verified live): right
    # rows with NULL ts or NULL keys never match anything — they are
    # filtered out of the union (a NULL key would otherwise PARTITION
    # together with NULL left keys, and a NULL ts would sort somewhere
    # and get carried). A NULL LEFT ts, however, sorts as the extreme
    # (DuckDB's NULLS-LAST sort machinery): it sees every right row
    # and takes the closest one — NULLS LAST in both directions
    # reproduces that for the inclusive operators (>=, <=). Known
    # divergence: DuckDB's STRICT variants (>, <) pick a different
    # arbitrary right row for a NULL left ts (observed: >= returns
    # the max right ts, > the min — an implementation accident we
    # don't chase); non-NULL data is exact for all four operators.
    r_notnull = " AND ".join(
        [f"({r_ts}) IS NOT NULL"] + [f"({e}) IS NOT NULL" for _, e in eq_keys]
    )
    rep = (
        f"FROM (SELECT __l AS {lalias}, __r AS {ralias} FROM ("
        f"SELECT __l, last(__r) IGNORE NULLS OVER ({partition}"
        f" ORDER BY __ts {ts_dir} NULLS LAST, __side {side_dir}"
        f" ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS __r"
        f" FROM ("
        f"SELECT {lkeys}{l_ts} AS __ts, 1 AS __side,"
        f" struct({lalias}.*) AS __l, NULL AS __r"
        f" FROM {ltab} AS {lalias}"
        f" UNION ALL SELECT {rkeys}{r_ts}, 0, NULL, struct({ralias}.*)"
        f" FROM {rtab} AS {ralias} WHERE {r_notnull}"
        f") __asof_u) __asof_w WHERE __l IS NOT NULL{inner}) __asof "
    )
    head = masked[: fm.start()]
    # a bare ``SELECT *`` cannot expand two struct columns the way
    # DuckDB's ASOF flattens — expand it to ``la.*, ra.*`` explicitly
    head = re.sub(
        r"(\bSELECT\s+)\*(\s*)$",
        rf"\g<1>{lalias}.*, {ralias}.*\g<2>",
        head,
        flags=re.I,
    )
    return head + rep + masked[end:]


# ------------------------------------------- struct / series constructors


def _match_paren(text: str, pos: int) -> int:
    """Index just past the ``)`` matching the ``(`` at ``pos``; -1 if
    unbalanced. Masked text — literal parens are hidden."""
    depth = 0
    for j in range(pos, len(text)):
        if text[j] == "(":
            depth += 1
        elif text[j] == ")":
            depth -= 1
            if depth == 0:
                return j + 1
    return -1


_STRING_SPLIT_RE = re.compile(r"\bstring_split\s*\(", re.I)


def _rewrite_string_split(masked: str) -> str:
    """``string_split(s, sep)`` → ``split(s, concat('\\Q', sep,
    '\\E'))`` — the same literal-separator semantics as the SQL-UDF
    alias, but as a native call. The textual form matters because
    Spark refuses SQL UDFs under generators (``UNSUPPORTED_SQL_UDF_
    USAGE``), so ``unnest(string_split(text, ' '))`` — a ubiquitous
    DuckDB tokenization idiom — only works when the function inlines
    before analysis."""
    while True:
        m = _STRING_SPLIT_RE.search(masked)
        if m is None:
            return masked
        open_idx = masked.index("(", m.end() - 1)
        end = _match_paren(masked, open_idx)
        if end == -1:
            return masked
        args = _split_d0_commas(masked[open_idx + 1 : end - 1])
        if len(args) != 2:
            return masked
        # char(92) = backslash without a string escape: the emitted
        # text parses identically whether the executing session runs
        # escapedStringLiterals or not (r12 — destination sessions
        # now run =true for DuckDB literal parity)
        masked = (
            masked[: m.start()]
            + f"split({args[0]},"
            f" concat(char(92), 'Q', {args[1]}, char(92), 'E'))"
            + masked[end:]
        )


_STRUCT_PACK_RE = re.compile(r"\bstruct_pack\s*\(", re.I)


def _rewrite_struct_pack(masked: str) -> str:
    """``struct_pack(a := x, b := y)`` → ``named_struct('a', x, 'b',
    y)``. Innermost packs are reached by re-scanning after each
    replacement; a malformed argument list leaves the whole statement
    untouched (loud Spark error beats a guessed rewrite)."""
    while True:
        m = _STRUCT_PACK_RE.search(masked)
        if m is None:
            return masked
        open_idx = masked.index("(", m.end() - 1)
        end = _match_paren(masked, open_idx)
        if end == -1:
            return masked
        parts = []
        for item in _split_d0_commas(masked[open_idx + 1 : end - 1]):
            km = re.match(r"\s*(\w+)\s*:=\s*(.+)$", item, re.S)
            if km is None:
                return masked
            parts.append(f"'{km.group(1)}', {km.group(2).strip()}")
        if not parts:
            return masked
        masked = (
            masked[: m.start()]
            + "named_struct("
            + ", ".join(parts)
            + ")"
            + masked[end:]
        )


def _rewrite_brace_literals(masked: str) -> str:
    """DuckDB struct/map literals → Spark constructors:
    ``{'a': 1, 'b': x}`` → ``named_struct('a', 1, 'b', x)`` and
    ``MAP {'k': v}`` → ``map('k', v)``. Braces appear nowhere in valid
    Spark SQL, so there is nothing to collide with; innermost pairs
    are rewritten first so nesting works. Keys are masked string
    literals (or bare identifiers for structs) and values may be any
    expression; ``::`` casts inside values are skipped when locating
    the key separator. A malformed pair aborts the whole rewrite."""
    while "{" in masked:
        # innermost pair: last '{' before the first '}' after it
        close = masked.find("}")
        if close == -1:
            return masked
        open_idx = masked.rfind("{", 0, close)
        if open_idx == -1:
            return masked
        body = masked[open_idx + 1 : close]
        if not body.strip():
            return masked
        kvs = []
        for item in _split_d0_commas(body):
            # first ':' at paren depth 0 that is not part of '::'
            depth, sep = 0, -1
            k = 0
            while k < len(item):
                ch = item[k]
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                elif ch == ":" and depth == 0:
                    if k + 1 < len(item) and item[k + 1] == ":":
                        k += 2
                        continue
                    sep = k
                    break
                k += 1
            if sep == -1:
                return masked
            key, val = item[:sep].strip(), item[sep + 1 :].strip()
            if not key or not val:
                return masked
            if not (re.fullmatch(rf"{_MASK}\d+{_MASK}", key) or key.isidentifier()):
                return masked
            if key.isidentifier():
                key = f"'{key}'"
            kvs.append((key, val))
        before = masked[:open_idx]
        stripped = before.rstrip()
        if re.search(r"\bMAP$", stripped, flags=re.I):
            repl = "map(" + ", ".join(f"{k}, {v}" for k, v in kvs) + ")"
            masked = stripped[:-3] + repl + masked[close + 1 :]
        else:
            repl = (
                "named_struct("
                + ", ".join(f"{k}, {v}" for k, v in kvs)
                + ")"
            )
            masked = before + repl + masked[close + 1 :]
    return masked


_GEN_SERIES_RE = re.compile(
    r"\b(FROM|JOIN)\s+generate_series\s*\(", re.I
)
_GS_ALIAS_RE = re.compile(r"\s*(?:AS\s+)?(\w+)\s*(?:\(\s*(\w+)\s*\))?", re.I)
_GS_KEYWORDS = {
    "WHERE", "GROUP", "ORDER", "LIMIT", "HAVING", "UNION", "INTERSECT",
    "EXCEPT", "MINUS", "JOIN", "LEFT", "RIGHT", "FULL", "INNER", "CROSS",
    "ON", "USING", "QUALIFY", "WINDOW", "OFFSET", "SELECT", "AND", "OR",
}


def _rewrite_generate_series(masked: str) -> str:
    """FROM-position ``generate_series(start, stop[, step])`` (the
    date-spine / number-spine table function; inclusive stop on both
    engines) → ``(SELECT explode(sequence(...)) AS generate_series)``.
    The single-argument DuckDB form and select-list uses pass through
    — their semantics have no direct sequence() equivalent."""
    out = []
    last = 0
    for m in _GEN_SERIES_RE.finditer(masked):
        open_idx = masked.index("(", m.end() - 1)
        end = _match_paren(masked, open_idx)
        if end == -1:
            continue
        args = masked[open_idx + 1 : end - 1]
        if len(_split_d0_commas(args)) not in (2, 3):
            continue
        # optional [AS] alias [(colname)] — but not a trailing keyword
        col = tab = None
        am = _GS_ALIAS_RE.match(masked, end)
        consumed = end
        if am and am.group(1) and am.group(1).upper() not in _GS_KEYWORDS:
            tab, col = am.group(1), am.group(2)
            consumed = am.end()
        colname = col or "generate_series"
        repl = (
            f"{m.group(1)} (SELECT explode(sequence({args}))"
            f" AS {colname})"
        )
        if tab:
            repl += f" {tab}"
        out.append(masked[last : m.start()])
        out.append(repl)
        last = consumed
    out.append(masked[last:])
    return "".join(out)


def _series_guard(a: str, b: str, s: str, body: str) -> str:
    return (
        f"(CASE WHEN ({s}) > 0 AND ({a}) > ({b}) THEN array()"
        f" WHEN ({s}) < 0 AND ({a}) < ({b}) THEN array()"
        f" ELSE {body} END)"
    )


def _rewrite_scalar_series(masked: str) -> str:
    """SELECT-position ``generate_series`` / ``range`` return LISTS in
    DuckDB (r13 probe): generate_series is inclusive-stop (1-arg =
    [0..n]), range is exclusive-stop (1-arg = [0..n-1]), and a
    wrong-direction call is [] — where Spark's sequence() AUTO-REVERSES
    (sequence(5, 1) = [5..1], a silent wrong value if unguarded).
    FROM-position forms are already consumed (_rewrite_generate_series
    rewrote generate_series; range is Spark's native TVF — a
    FROM/JOIN-preceded ``range(`` is skipped here)."""

    def fix_gs(args: list[str]):
        if len(args) == 1:
            return (
                f"(CASE WHEN ({args[0]}) < 0 THEN array()"
                f" ELSE sequence(0, {args[0]}) END)"
            )
        if len(args) not in (2, 3):
            return None
        s = args[2] if len(args) == 3 else "1"
        return _series_guard(
            args[0], args[1], s,
            f"sequence({args[0]}, {args[1]}, {s})",
        )

    masked = _rewrite_calls(masked, "generate_series", fix_gs)

    pat = re.compile(r"\brange\s*\(", re.I)
    pos = 0
    while True:
        m = pat.search(masked, pos)
        if m is None:
            return masked
        before = masked[: m.start()].rstrip()
        if re.search(r"(?i)\b(FROM|JOIN)$", before):
            pos = m.end()
            continue  # Spark's native range TVF — exact already
        open_idx = masked.index("(", m.end() - 1)
        close = _match_paren(masked, open_idx)
        if close == -1:
            pos = m.end()
            continue
        args = _split_d0_commas(masked[open_idx + 1 : close - 1])
        if len(args) == 1:
            repl = (
                f"(CASE WHEN ({args[0]}) < 1 THEN array()"
                f" ELSE sequence(0, ({args[0]}) - 1) END)"
            )
        elif len(args) in (2, 3):
            s = args[2] if len(args) == 3 else "1"
            step_back = f"(CASE WHEN ({s}) < 0 THEN -1 ELSE 1 END)"
            repl = (
                f"(CASE WHEN ({s}) > 0 AND ({args[0]}) >= ({args[1]})"
                f" THEN array()"
                f" WHEN ({s}) < 0 AND ({args[0]}) <= ({args[1]})"
                f" THEN array()"
                f" ELSE sequence({args[0]},"
                f" ({args[1]}) - {step_back}, {s}) END)"
            )
        else:
            pos = m.end()
            continue
        masked = masked[: m.start()] + repl + masked[close:]
        pos = m.start() + 1
    return masked


# ---------------------------------------------------------- distinct on

_DISTINCT_ON_RE = re.compile(r"\bSELECT\s+DISTINCT\s+ON\s*\(", re.I)


def _d0_matches(text: str, pattern: str):
    """Matches of ``pattern`` at paren depth 0 of masked text (parens
    inside literals are already placeholders, so raw counting is
    exact)."""
    depth = 0
    for m in re.finditer(rf"[()]|{pattern}", text, flags=re.I):
        tok = m.group(0)
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0:
            yield m


_ORDINAL_ITEM_RE = re.compile(
    r"(?:^|,)\s*\d+\s*(?:ASC|DESC)?\s*(?:NULLS\s+(?:FIRST|LAST))?\s*(?=,|$)",
    re.I,
)

_ORDER_MODS_RE = re.compile(
    r"(\s+(?:ASC|DESC))?(\s+NULLS\s+(?:FIRST|LAST))?\s*$", re.I
)


def _split_d0_commas(text: str) -> list[str]:
    """Split on depth-0 commas (masked text — literal commas hidden).
    Depth counts ``[`` and ``{`` too: a DuckDB list or struct/map
    literal argument (``regexp_extract(s, p, ['a', 'b'])``,
    ``struct_extract({'a': 1}, 'a')``) is ONE argument (r13 — the
    paren-only count split them apart)."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(text):
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(text[start:i])
            start = i + 1
    parts.append(text[start:])
    return [p.strip() for p in parts if p.strip()]


def _split_order_modifiers(item: str) -> tuple[str, str]:
    """'expr DESC NULLS LAST' → ('expr', ' DESC NULLS LAST')."""
    m = _ORDER_MODS_RE.search(item)
    mods = (m.group(1) or "") + (m.group(2) or "")
    return item[: m.start()].strip(), mods


def _rewrite_distinct_on(masked: str) -> str:
    """DuckDB/Postgres ``SELECT DISTINCT ON (keys) list FROM ...
    [WHERE ...] [ORDER BY ob] [LIMIT ...]`` → first row per key combo
    by the ORDER BY, via a ROW_NUMBER window:

        SELECT * EXCEPT (__sd_rn) FROM (
          SELECT list, ROW_NUMBER() OVER (
            PARTITION BY keys ORDER BY ob) AS __sd_rn FROM ... WHERE ...
        ) __sd WHERE __sd_rn = 1 [ORDER BY ob] [LIMIT ...]

    The original select list, keys, window ordering, and WHERE all
    stay in their original scope, so alias-qualified references keep
    resolving. Without an ORDER BY, DuckDB returns an arbitrary row
    per key; the rewrite orders by the keys themselves (deterministic,
    and any row is "compatible" with arbitrary). Conservatively
    skipped — text passes through for Spark to reject loudly — when
    the DISTINCT ON is not the statement's one top-level SELECT, a
    top-level set operator / GROUP BY / HAVING / QUALIFY is present,
    or the ORDER BY uses ordinal positions (ordinals inside a window
    spec are constants, not column references)."""
    m = _DISTINCT_ON_RE.search(masked)
    if m is None:
        return masked

    def depth_at(pos: int) -> int:
        return masked.count("(", 0, pos) - masked.count(")", 0, pos)

    if depth_at(m.start()) != 0 or _DISTINCT_ON_RE.search(masked, m.end()):
        return masked
    for sm in re.finditer(
        r"\bUNION\b|\bINTERSECT\b|\bEXCEPT\b|\bMINUS\b", masked, re.I
    ):
        if depth_at(sm.start()) == 0:
            # ``* EXCEPT (a)`` is a select-list modifier, not a set op
            if sm.group(0).upper() == "EXCEPT" and masked[: sm.start()].rstrip().endswith("*"):
                continue
            return masked

    # key list via paren matching (masked text: literal parens hidden)
    i = m.end()
    depth, j = 1, i
    while j < len(masked) and depth:
        if masked[j] == "(":
            depth += 1
        elif masked[j] == ")":
            depth -= 1
        j += 1
    if depth:
        return masked
    keys = masked[i : j - 1].strip()
    rest = masked[j:]
    if not keys:
        return masked

    if any(_d0_matches(rest, r"\bGROUP\s+BY\b|\bHAVING\b|\bQUALIFY\b")):
        return masked
    froms = list(_d0_matches(rest, r"\bFROM\b"))
    if not froms:
        return masked
    fpos = froms[0].start()

    obs = list(_d0_matches(rest, r"\bORDER\s+BY\b"))
    order_expr = None
    if obs:
        ob = obs[0]
        body, tail = rest[: ob.start()], rest[ob.end() :]
        lims = list(_d0_matches(tail, r"\bLIMIT\b|\bOFFSET\b"))
        if lims:
            order_expr, trailer = tail[: lims[0].start()].strip(), tail[lims[0].start() :]
        else:
            order_expr, trailer = tail.strip(), ""
        if _ORDINAL_ITEM_RE.search(order_expr):
            return masked
    else:
        lims = list(_d0_matches(rest, r"\bLIMIT\b|\bOFFSET\b"))
        if lims:
            body, trailer = rest[: lims[0].start()], rest[lims[0].start() :]
        else:
            body, trailer = rest, ""

    if fpos >= len(body):
        return masked
    sel_list = body[:fpos].strip()
    from_tail = body[fpos:].strip()
    if not sel_list or not from_tail:
        return masked
    win_order = order_expr if order_expr else keys
    # The outer ORDER BY may reference columns that are neither in the
    # select list nor unqualified (ORDER BY t.ts DESC on a projection
    # of other columns — legal in DuckDB). Hoist every order item as
    # an aliased helper column computed in the ORIGINAL scope, order
    # by the helpers outside, and strip them with EXCEPT.
    helper_cols, outer_order = [], []
    if order_expr:
        for idx, item in enumerate(_split_d0_commas(order_expr)):
            expr, mods = _split_order_modifiers(item)
            if not expr:
                return masked
            helper_cols.append(f"{expr} AS __sd_ob{idx}")
            outer_order.append(f"__sd_ob{idx}{mods}")
    helpers = (", " + ", ".join(helper_cols)) if helper_cols else ""
    drop = ", ".join(["__sd_rn"] + [f"__sd_ob{i}" for i in range(len(helper_cols))])
    inner = (
        f"SELECT {sel_list}, ROW_NUMBER() OVER"
        f" (PARTITION BY {keys} ORDER BY {win_order}) AS __sd_rn"
        f"{helpers} {from_tail}"
    )
    out = (
        f"{masked[: m.start()]}SELECT * EXCEPT ({drop})"
        f" FROM ( {inner} ) __sd WHERE __sd_rn = 1"
    )
    if outer_order:
        out += f" ORDER BY {', '.join(outer_order)}"
    if trailer.strip():
        out += f" {trailer.strip()}"
    return out


# ----------------------------------------------- subscripts / commas


def _expr_start(text: str, end: int) -> int | None:
    """Start index of the value expression whose last char is at
    ``end`` — walks left over identifier chars / dots / mask
    placeholders and over balanced ``(...)`` / ``[...]`` groups
    (``foo(x)``, ``a.b``, chained subscripts)."""
    k = end
    while k >= 0:
        ch = text[k]
        if ch in ")]":
            depth = 0
            while k >= 0:
                if text[k] in ")]":
                    depth += 1
                elif text[k] in "([":
                    depth -= 1
                if depth == 0:
                    break
                k -= 1
            if depth != 0:
                return None
            k -= 1
        elif ch.isalnum() or ch in "_.\x00":
            k -= 1
        else:
            break
    start = k + 1
    return start if start <= end else None


_INT_SUBSCRIPT_RE = re.compile(r"\[\s*(-?\d+)\s*\]")


def _rewrite_int_subscripts(masked: str) -> str:
    """``expr[n]`` with an integer literal → ``element_at(expr, n)``.

    Everything that reaches the rewriter is DuckDB-dialect text (the
    engine only falls back here after stock Spark rejects the
    statement), and in DuckDB ``l[1]`` is the FIRST element and
    ``l[-1]`` the last — Spark's bracket is 0-based and rejects
    negatives. ``try_element_at`` is 1-based with negative-from-end on
    arrays and key-lookup on maps, and returns NULL on index 0 /
    out-of-range (via the nullif-0 guard) exactly like DuckDB's
    subscript — the plain ``element_at`` used before r12 THROWS there
    under pyspark 4.1's default ANSI mode (advisor catch on the
    sibling list_extract alias). Non-integer subscripts (map string
    keys, struct fields) mean the same thing on both engines and stay
    as brackets. Blind spot, documented: DuckDB 1.0's map[k] returns
    a LIST of values (``[]`` on a miss) where Spark returns the
    scalar — integer-literal keys on maps diverge in shape either
    way; arrays are the overwhelming use of this form. Restart-scan
    loop handles chains (``a[1][2]``) — queries are short, quadratic
    is irrelevant."""
    while True:
        for m in _INT_SUBSCRIPT_RE.finditer(masked):
            i = m.start()
            k = i - 1
            if k < 0 or not (masked[k].isalnum() or masked[k] in "_)]\x00"):
                continue  # list literal slipped through — not a subscript
            start = _expr_start(masked, k)
            if start is None:
                continue
            base = masked[start:i]
            if not base or base.lower() == "array":
                continue
            idx = m.group(1)
            if idx.lstrip("+-") == "0":
                idx = "nullif(0, 0)"  # DuckDB l[0] = NULL; see docstring
            masked = (
                masked[:start]
                + f"try_element_at({base}, {idx})"
                + masked[m.end():]
            )
            break  # indices shifted — rescan
        else:
            return masked


def _rewrite_trailing_commas(masked: str) -> str:
    """DuckDB tolerates trailing commas (``SELECT a, b, FROM t``,
    ``struct(a, b, )``); Spark rejects them with TRAILING_COMMA /
    parse errors. Dropping the comma is the only possible intent.
    ``from_unixtime(...)`` etc. are safe: ``FROM\\b`` cannot match
    into a longer identifier."""
    masked = re.sub(r",(\s*)(?=FROM\b)", r"\1", masked, flags=re.I)
    masked = re.sub(r",(\s*\))", r"\1", masked)
    return masked


# ----------------------------------------------------- star REPLACE


_STAR_REPLACE_RE = re.compile(
    r"((?:[A-Za-z_][A-Za-z0-9_]*|\x00\d+\x00)\s*\.\s*)?\*"
    r"\s+(?:EXCEPT\s*\(([^()]*)\)\s*)?REPLACE\s*\(",
    re.I,
)


def _rewrite_star_replace(masked: str) -> str:
    """``SELECT * REPLACE (expr AS col, ...)`` → ``* EXCEPT (col, ...),
    expr AS col, ...``. Same column SET; the replaced columns move to
    the end of the projection (Spark's EXCEPT keeps relative order of
    the rest, DuckDB keeps the replaced column in place) — position is
    the one divergence, names/values match.  The combined DuckDB form
    ``* EXCLUDE (a) REPLACE (e AS c)`` (EXCLUDE already rewritten to
    EXCEPT by the code pass) folds the exclusion list into the same
    EXCEPT (r12 probe wave — the combined form was a loud error)."""
    while True:
        m = _STAR_REPLACE_RE.search(masked)
        if m is None:
            return masked
        open_idx = masked.index("(", m.end() - 1)
        close = _match_paren(masked, open_idx)
        if close == -1:
            return masked
        items = _split_d0_commas(masked[open_idx + 1 : close - 1])
        names = [
            c.strip() for c in (m.group(2) or "").split(",") if c.strip()
        ]
        for item in items:
            am = re.search(
                r"\s+AS\s+([A-Za-z_][A-Za-z0-9_]*|\x00\d+\x00)\s*$", item, re.I
            )
            if am is None:
                return masked  # not the simple form — leave loud
            names.append(am.group(1))
        prefix = (m.group(1) or "").replace(" ", "")
        repl = (
            f"{prefix}* EXCEPT ({', '.join(names)}), {', '.join(items)}"
        )
        masked = masked[: m.start()] + repl + masked[close:]


# ------------------------------------------- ORDER BY inside an agg


_AGG_ORDER_RE = re.compile(
    r"\b(array_agg|string_agg|listagg|group_concat|first|last"
    r"|any_value"
    r"|sum|avg|mean|count|min|max|median|product"
    r"|bool_and|bool_or|bit_and|bit_or|bit_xor"
    r"|stddev|stddev_samp|stddev_pop|var_samp|var_pop|variance"
    r")\s*\(",
    re.I,
)
# the order-INSENSITIVE members of the set above: DuckDB accepts
# ORDER BY inside any aggregate, but for these it cannot change the
# result, so the bridge simply DROPS the clause (r12 probe wave —
# sum(v ORDER BY v) was a loud parse error on a valid no-op)
_ORDER_INSENSITIVE_AGGS = frozenset(
    """sum avg mean count min max median product bool_and bool_or
    bit_and bit_or bit_xor stddev stddev_samp stddev_pop var_samp
    var_pop variance""".split()
)
_ORDER_BY_IN_ARGS_RE = re.compile(r"\bORDER\s+BY\b", re.I)


_CLAUSE_KEYWORDS_RE = (
    r"\b(?:WHERE|GROUP|HAVING|QUALIFY|WINDOW|ORDER|LIMIT|OFFSET)\b"
)


def _from_first_segment(masked: str) -> str:
    """Reorder ONE set-op-free statement segment: ``FROM t`` =
    ``SELECT * FROM t``; ``FROM t SELECT cols [WHERE …]`` moves to
    standard clause order.  Depth-0 keyword scans on masked text — a
    literal spelling SELECT or WHERE cannot split the segment."""
    m = re.match(r"^(\s*)FROM\b", masked, re.I)
    if m is None:
        return masked
    sel = list(_d0_matches(masked, r"\bSELECT\b"))
    if not sel:
        return m.group(1) + "SELECT * " + masked.lstrip()
    first = sel[0]
    from_part = masked[m.end(1) : first.start()].strip()
    rest = masked[first.end():]
    tail_hits = list(_d0_matches(rest, _CLAUSE_KEYWORDS_RE))
    if tail_hits:
        cut = tail_hits[0].start()
        select_list, tail = rest[:cut].strip(), rest[cut:].strip()
    else:
        select_list, tail = rest.strip(), ""
    out = f"SELECT {select_list} {from_part}"
    return m.group(1) + f"{out} {tail}".strip()


def _rewrite_from_first(masked: str) -> str:
    """DuckDB's FROM-first statement forms (r12 probe wave — everyday
    conveniences in saved queries): ``FROM t`` = ``SELECT * FROM t``,
    and ``FROM t SELECT cols [WHERE …]`` reorders to the standard
    clause order.

    r13 probe catches, both via set operations: Spark ACCEPTS the
    Hive form ``FROM t SELECT c`` natively, so a FROM-first set-op
    statement only reaches this fallback when some OTHER token failed
    the stock parse — and the old single-cut reorder then CORRUPTED
    it (the first branch's reorder swallowed the whole tail).  The
    statement is now split at depth-0 set operators and each branch
    reordered independently (``* EXCEPT (a)`` — the select-list
    modifier — is not a split point: preceded by ``*``).  A leading
    ALL/DISTINCT after the operator stays with the operator.  Second:
    a parenthesized SELECT-less FROM-first subquery ``(FROM t WHERE
    …)`` — valid DuckDB, a Spark parse error — gets its ``SELECT *``
    inserted by :func:`_rewrite_parenthesized_from` (run before this
    pass)."""
    bounds: list[tuple[int, int]] = []
    for m in _d0_matches(
        masked, r"\bUNION\b|\bINTERSECT\b|\bEXCEPT\b|\bMINUS\b"
    ):
        if m.group(0).upper() == "EXCEPT" and masked[: m.start()].rstrip().endswith("*"):
            continue
        end = m.end()
        tail = re.match(r"\s+(ALL|DISTINCT)\b", masked[end:], re.I)
        if tail:
            end += tail.end()
        bounds.append((m.start(), end))
    if not bounds:
        return _from_first_segment(masked)
    out, prev = [], 0
    for s, e in bounds:
        out.append(_from_first_segment(masked[prev:s]).strip())
        out.append(masked[s:e].strip())
        prev = e
    out.append(_from_first_segment(masked[prev:]).strip())
    return " ".join(out)


def _rewrite_parenthesized_from(masked: str) -> str:
    """Insert ``SELECT *`` into parenthesized SELECT-less FROM-first
    groups: ``(FROM t WHERE id = 1)`` → ``(SELECT * FROM t WHERE
    id = 1)`` (r13 probe — Spark's Hive form covers ``(FROM t SELECT
    c)`` but not the bare one).  Only groups with NO group-depth-0
    SELECT change; restart-scan handles nesting."""
    pat = re.compile(r"\(\s*FROM\b", re.I)
    pos = 0
    while True:
        m = pat.search(masked, pos)
        if m is None:
            return masked
        close = _match_paren(masked, m.start())
        if close == -1:
            pos = m.end()
            continue
        inner = masked[m.start() + 1 : close - 1]
        if any(True for _ in _d0_matches(inner, r"\bSELECT\b")):
            pos = m.start() + 1
            continue
        masked = (
            masked[: m.start() + 1]
            + "SELECT * "
            + inner.lstrip()
            + masked[close - 1 :]
        )
        pos = m.start() + 1


_EXTRACT_RE = re.compile(
    r"\bEXTRACT\s*\(\s*(EPOCH|DOW|ISODOW|MICROSECONDS?|MILLISECONDS?)"
    r"\s+FROM\b",
    re.I,
)
_DATE_PART_RE = re.compile(
    r"\bdate_part\s*\(\s*\x00(\d+)\x00\s*,", re.I
)


def _epoch_expr(expr: str) -> str:
    # DuckDB's epoch field is a DOUBLE with the fractional second
    # (probed: 1704067210.5) — unix_timestamp would truncate
    return (
        f"(unix_micros(CAST(({expr}) AS TIMESTAMP))"
        " / CAST(1000000 AS DOUBLE))"
    )


def _field_bridge(field: str, expr: str) -> str:
    f = field.lower()
    if f == "epoch":
        return _epoch_expr(expr)
    if f == "dow":
        # DuckDB: Sunday=0; Spark DAYOFWEEK: Sunday=1 (probed)
        return f"(EXTRACT(DAYOFWEEK FROM {expr}) - 1)"
    if f in ("microsecond", "microseconds"):
        # DuckDB: the sub-minute seconds INCLUDING the fraction, as
        # integer microseconds (01:02:03.5 → 3500000 — r13 probe);
        # Spark's SECOND field is the same DECIMAL seconds.fraction
        return (
            f"CAST(EXTRACT(SECOND FROM {expr}) * 1000000 AS BIGINT)"
        )
    if f in ("millisecond", "milliseconds"):
        return f"CAST(EXTRACT(SECOND FROM {expr}) * 1000 AS BIGINT)"
    return f"EXTRACT(DAYOFWEEK_ISO FROM {expr})"  # isodow: exact


def _rewrite_extract_fields(masked: str, literals: list[str]) -> str:
    """DuckDB EXTRACT fields Spark's EXTRACT lacks (r12 probe wave —
    all three were loud INVALID_EXTRACT_FIELD errors): ``EPOCH``
    (fractional-second DOUBLE), ``DOW`` (Sunday=0) and ``ISODOW``
    (Monday=1, Spark's DAYOFWEEK_ISO exactly).  The same fields
    bridge through ``date_part('field', x)`` — its literal argument
    is masked, so the field name resolves through the literal
    table."""
    pos = 0
    while True:
        m = _EXTRACT_RE.search(masked, pos)
        if m is None:
            break
        open_idx = masked.index("(", m.start())
        close = _match_paren(masked, open_idx)
        if close == -1:
            pos = m.end()
            continue
        inner = masked[open_idx + 1 : close - 1]
        expr = re.sub(
            rf"^\s*{m.group(1)}\s+FROM\b", "", inner, count=1, flags=re.I
        ).strip()
        repl = _field_bridge(m.group(1), expr)
        masked = masked[: m.start()] + repl + masked[close:]
        pos = m.start() + len(repl)
    pos = 0
    while True:
        m = _DATE_PART_RE.search(masked, pos)
        if m is None:
            return masked
        lit = literals[int(m.group(1))]
        field = lit.strip("'\"").lower()
        if field not in (
            "epoch", "dow", "isodow",
            "microsecond", "microseconds",
            "millisecond", "milliseconds",
        ):
            pos = m.end()
            continue
        open_idx = masked.index("(", m.start())
        close = _match_paren(masked, open_idx)
        if close == -1:
            pos = m.end()
            continue
        args = _split_d0_commas(masked[open_idx + 1 : close - 1])
        if len(args) != 2:
            pos = m.end()
            continue
        repl = _field_bridge(field, args[1].strip())
        masked = masked[: m.start()] + repl + masked[close:]
        pos = m.start() + len(repl)


_FORMAT_RE = re.compile(r"\bformat\s*\(\s*\x00(\d+)\x00\s*,", re.I)
_FMT_PLACEHOLDER_RE = re.compile(r"\{(\d*)(?::([^{}]*))?\}")
_FMT_SPEC_RE = re.compile(r"^([<>])?(0)?(\d+)?(?:\.(\d+))?([dfsxo])?$")


def _fmt_to_printf(body: str, n_args: int):
    """fmtlib format string → Java format_string directives, for the
    mechanically-safe subset (r13 probe wave): ``{}``/``{N}`` (→ %s /
    %N$s with a CAST-to-STRING so DATE/TIMESTAMP args print their
    values, not their internal ints — probed: 19787), ``{:>N}`` /
    ``{:<N}`` string alignment, ``{:d}``/``{:0Nd}``/``{:Nd}``,
    ``{:[N][.M]f}``, ``{:x}``/``{:o}``, and ``{{``/``}}`` literal
    braces.  Returns ``(printf_body, cast_arg_indices)`` or None for
    the forms with no faithful printf twin: bare ``{:N}`` width on an
    UNKNOWN type (fmtlib aligns strings LEFT and numbers RIGHT —
    untypeable in a text rewrite), string precision ``{:.Ns}``,
    auto/positional mixing, and argument-count mismatches."""
    out: list[str] = []
    casts: set[int] = set()
    i, n, auto = 0, len(body), 0
    used_auto = used_pos = False
    while i < n:
        ch = body[i]
        if ch == "{":
            if body[i : i + 2] == "{{":
                out.append("{")
                i += 2
                continue
            m = _FMT_PLACEHOLDER_RE.match(body, i)
            if m is None:
                return None
            idx_s, spec = m.group(1), m.group(2) or ""
            sm = _FMT_SPEC_RE.match(spec)
            if sm is None:
                return None
            align, zero, width, prec, typ = sm.groups()
            conv = typ or "s"
            if conv == "s":
                if prec is not None:
                    return None  # string truncation — no printf twin
                if width and align is None:
                    return None  # fmtlib: strings left, numbers right
            else:
                if align is not None:
                    return None
                if prec is not None and conv != "f":
                    return None
            if idx_s:
                used_pos = True
                argi = int(idx_s)
            else:
                used_auto = True
                argi = auto
                auto += 1
            if (used_auto and used_pos) or argi >= n_args:
                return None
            if conv == "s":
                casts.add((argi, "STRING"))
            elif conv == "f":
                # Java's %f rejects DECIMAL (Spark's literal type for
                # 3.14) — DuckDB's {:f} takes any numeric
                casts.add((argi, "DOUBLE"))
            out.append(
                "%"
                + (f"{argi + 1}$" if idx_s else "")
                + ("-" if align == "<" else "")
                + (zero or "")
                + (width or "")
                + (f".{prec}" if prec is not None else "")
                + conv
            )
            i = m.end()
        elif ch == "}":
            if body[i : i + 2] == "}}":
                out.append("}")
                i += 2
                continue
            return None
        elif ch == "%":
            out.append("%%")
            i += 1
        else:
            out.append(ch)
            i += 1
    if used_auto and auto != n_args:
        return None  # arg-count mismatch stays a loud refusal
    return "".join(out), casts


def _rewrite_format(masked: str, literals: list[str]) -> str:
    """DuckDB's fmt-style ``format('{} …', args)`` → a NULL-guarded
    ``format_string`` (r12 probe wave; spec subset r13 — see
    :func:`_fmt_to_printf`).  Unbridgeable spec forms refuse with the
    reason named, and the guard matters because DuckDB's format is
    NULL-poisoning where Java's format_string prints 'null'
    (probed)."""
    pos = 0
    while True:
        m = _FORMAT_RE.search(masked, pos)
        if m is None:
            return masked
        fmt = literals[int(m.group(1))]
        body = fmt[1:-1] if fmt[:1] in "'\"" else fmt
        open_idx = masked.index("(", m.start())
        close = _match_paren(masked, open_idx)
        if close == -1:
            pos = m.end()
            continue
        args = _split_d0_commas(masked[open_idx + 1 : close - 1])[1:]
        bridged = _fmt_to_printf(body, len(args))
        if bridged is None:
            raise DialectError(
                "format() bridges {} / {N} / {:>N} / {:<N} / {:d} /"
                " {:0Nd} / {:[N][.M]f} / {:x} / {:o} with matching"
                " argument count — this format string is outside that"
                " subset (bare {:N} width is untypeable in a text"
                " rewrite: fmtlib aligns strings left, numbers"
                " right); use printf with % directives instead"
            )
        printf_body, cast_idx = bridged
        # the rewritten format string joins the literal table as a NEW
        # masked entry, so later passes never see its contents as code
        literals.append("'" + printf_body + "'")
        tok = f"{_MASK}{len(literals) - 1}{_MASK}"
        cast_map = dict(cast_idx)
        passed = [
            (
                f"CAST(({a.strip()}) AS {cast_map[i]})"
                if i in cast_map
                else a.strip()
            )
            for i, a in enumerate(args)
        ]
        guard = " OR ".join(f"({a.strip()}) IS NULL" for a in args)
        call = ", ".join([tok] + passed)
        repl = (
            f"(CASE WHEN {guard} THEN CAST(NULL AS STRING)"
            f" ELSE format_string({call}) END)"
            if args
            else tok
        )
        masked = masked[: m.start()] + repl + masked[close:]
        pos = m.start() + len(repl)


# time_bucket widths in MICROSECONDS for the fixed-width units; the
# calendar units (month/year/decade/century) bucket by calendar
# arithmetic in DuckDB and are refused loudly below
_TIME_BUCKET_US = {
    "microsecond": 1, "microseconds": 1, "us": 1,
    "millisecond": 1000, "milliseconds": 1000, "ms": 1000,
    "second": 10**6, "seconds": 10**6,
    "minute": 60 * 10**6, "minutes": 60 * 10**6,
    "hour": 3600 * 10**6, "hours": 3600 * 10**6,
    "day": 86400 * 10**6, "days": 86400 * 10**6,
    "week": 7 * 86400 * 10**6, "weeks": 7 * 86400 * 10**6,
}
# DuckDB's documented time_bucket origin: 2000-01-03 00:00:00 (a
# Monday, so week buckets align to ISO weeks) — probed: 7-day buckets
# of 2024-01-10 start 2024-01-08, and pre-origin timestamps floor
# toward -inf (1969-12-31 23:00 → 22:00 for 2-hour buckets)
_TIME_BUCKET_ORIGIN_US = 946857600000000
_TIME_BUCKET_RE = re.compile(r"\btime_bucket\s*\(", re.I)
_INTERVAL_ARG_RE = re.compile(
    r"^INTERVAL\s+(?:'\s*(\d+)\s*(\w+)\s*'|(\d+)\s+(\w+))\s*$", re.I
)


def _rewrite_time_bucket(masked: str, literals: list[str]) -> str:
    """``time_bucket(INTERVAL n UNIT, ts)`` (TimescaleDB-style, r12
    probe wave — a loud UNRESOLVED_ROUTINE before) → origin-anchored
    flooring: ``timestamp_micros(u - pmod(u - ORIGIN, W))`` with
    ``u = unix_micros(ts)``.  pmod keeps pre-origin timestamps exact
    (probed).  Divergence note: a DATE input returns DATE in DuckDB,
    TIMESTAMP here — same instant, the date_trunc type note applies.
    Calendar units and the 3-argument offset/origin forms refuse with
    the reason named."""
    pos = 0
    while True:
        m = _TIME_BUCKET_RE.search(masked, pos)
        if m is None:
            return masked
        open_idx = masked.index("(", m.end() - 1)
        close = _match_paren(masked, open_idx)
        args = (
            _split_d0_commas(masked[open_idx + 1 : close - 1])
            if close != -1
            else []
        )
        if close == -1 or len(args) != 2:
            raise DialectError(
                "time_bucket is bridged only as time_bucket(INTERVAL n"
                " unit, ts) — the offset/origin forms shift the anchor"
                " in ways a text rewrite cannot verify"
            )
        am = _INTERVAL_ARG_RE.match(
            _unmask_literals(args[0].strip(), literals)
        )
        unit = (am.group(2) or am.group(4)).lower() if am else None
        if am is None or unit not in _TIME_BUCKET_US:
            raise DialectError(
                "time_bucket: only literal fixed-width intervals"
                " (microseconds … weeks) are bridged — calendar units"
                " bucket by calendar arithmetic in DuckDB; use"
                " date_trunc for single calendar units"
            )
        w = int(am.group(1) or am.group(3)) * _TIME_BUCKET_US[unit]
        ts = args[1].strip()
        u = f"unix_micros(CAST(({ts}) AS TIMESTAMP))"
        repl = (
            f"timestamp_micros({u} - pmod({u}"
            f" - {_TIME_BUCKET_ORIGIN_US}, {w}))"
        )
        masked = masked[: m.start()] + repl + masked[close:]
        pos = m.start() + len(repl)


def _order_null_guard(mods: str) -> tuple[bool, str]:
    """(descending?, null-guard predicate text) for one ORDER BY
    item's modifiers.  The guard expression leads the sort struct so
    a natural struct sort reproduces the intended NULL placement:
    DuckDB defaults to NULLS LAST in BOTH directions (probed), Spark's
    struct comparison puts a NULL field first ascending.  Truth
    table: the guard is ``IS NULL`` exactly when descending equals
    nulls-first (then the boolean sorts the null rows to the intended
    end under the chosen direction), else ``IS NOT NULL``."""
    desc = bool(re.search(r"\bDESC\b", mods, re.I))
    nf = re.search(r"\bNULLS\s+FIRST\b", mods, re.I)
    nulls_first = bool(nf)  # absent → DuckDB default NULLS LAST
    return desc, ("IS NULL" if desc == nulls_first else "IS NOT NULL")


def _rewrite_agg_order_by(masked: str) -> str:
    """DuckDB's in-argument ordered aggregates.

    ``string_agg(x, sep ORDER BY k ...)`` → ``listagg(x, sep) WITHIN
    GROUP (ORDER BY k ...)`` — Spark 4's standard form, any key list.

    ``array_agg(x ORDER BY k [DESC])`` (also ``list(...)``, renamed
    earlier) has no WITHIN GROUP form in Spark, so it becomes the
    sorted-struct idiom: collect ``struct(k AS _ob, x AS _v)``,
    ``sort_array`` (struct compare orders by _ob first), project
    ``_v``. Single sort key only; ties break by value rather than
    input order — same multiset, deterministic."""
    while True:
        hit = None
        for m in _AGG_ORDER_RE.finditer(masked):
            open_idx = masked.index("(", m.end() - 1)
            close = _match_paren(masked, open_idx)
            if close == -1:
                continue
            inner = masked[open_idx + 1 : close - 1]
            obs = [
                om
                for om in _d0_matches(inner, r"\bORDER\s+BY\b")
                if _ORDER_BY_IN_ARGS_RE.fullmatch(om.group(0))
            ]
            if obs:
                hit = (m, open_idx, close, inner, obs[0])
                break
        if hit is None:
            return masked
        m, open_idx, close, inner, ob = hit
        fn = m.group(1).lower()
        args = _split_d0_commas(inner[: ob.start()])
        order_clause = inner[ob.end():].strip()
        if fn in _ORDER_INSENSITIVE_AGGS:
            repl = f"{fn}({', '.join(a.strip() for a in args)})"
        elif fn in ("string_agg", "listagg", "group_concat"):
            # DuckDB's default separator is ',' — Spark's 1-arg
            # listagg concatenates with NOTHING, a silent wrong
            # value (r13 probe: 'a,a,b,b' vs 'aabb')
            sep = f", {args[1]}" if len(args) > 1 else ", ','"
            # Spark's default sort is NULLS FIRST ascending; DuckDB's
            # is NULLS LAST in both directions — make the placement
            # explicit on every key that lacks a NULLS modifier (r12
            # self-review catch, the same family as the struct-sort
            # guard below)
            keys = [
                k if re.search(r"\bNULLS\s+(FIRST|LAST)\b", k, re.I)
                else f"{k} NULLS LAST"
                for k in (s.strip() for s in _split_d0_commas(order_clause))
            ]
            repl = (
                f"listagg({args[0]}{sep})"
                f" WITHIN GROUP (ORDER BY {', '.join(keys)})"
            )
        elif fn in ("first", "last"):
            # first/last(x ORDER BY k) pick the value at the ordering
            # boundary via min_by/max_by over a (null-guard, key)
            # struct.  The guard is load-bearing (r12 self-review
            # catch): DuckDB defaults to NULLS LAST in BOTH
            # directions, so last(g ORDER BY g) over {a, b, NULL} is
            # NULL — the bare max_by(g, g) of r11 SKIPPED null keys
            # and silently returned 'b'.  Explicit NULLS FIRST/LAST
            # modifiers are honored through the same guard polarity.
            key, mods = _split_order_modifiers(order_clause)
            if "," in order_clause or not args or len(args) != 1:
                return masked  # multi-key: loud parse error
            desc, gnull = _order_null_guard(mods)
            g = f"struct(({key}) {gnull} AS _n, {key} AS _k)"
            pick = ("max_by" if desc else "min_by") if fn == "first" else (
                "min_by" if desc else "max_by"
            )
            repl = f"{pick}({args[0]}, {g})"
        elif fn == "any_value":
            # any_value(x ORDER BY k): the FIRST NON-NULL x in order
            # (probed r13) — like `first`, plus a leading value-null
            # flag so NULL x rows sort after every non-null one
            key, mods = _split_order_modifiers(order_clause)
            if "," in order_clause or not args or len(args) != 1:
                return masked
            desc, gnull = _order_null_guard(mods)
            vnull = (
                f"({args[0]}) IS NOT NULL"
                if desc
                else f"({args[0]}) IS NULL"
            )
            g = (
                f"struct({vnull} AS _v, ({key}) {gnull} AS _n,"
                f" {key} AS _k)"
            )
            repl = f"{'max_by' if desc else 'min_by'}({args[0]}, {g})"
        else:  # array_agg
            key, mods = _split_order_modifiers(order_clause)
            if "," in order_clause or not args:
                return masked  # multi-key: leave as a loud parse error
            desc, gnull = _order_null_guard(mods)
            asc = "false" if desc else "true"
            # the (key IS [NOT] NULL) guard leads the sort struct so
            # NULL keys land where DuckDB puts them — NULLS LAST by
            # default in BOTH directions (r12 self-review catch: the
            # bare struct sort put ascending NULL keys FIRST; Spark's
            # struct comparison treats a NULL field as smallest).
            # The struct wrap also keeps NULL VALUES — a bare
            # array_agg(x) would silently drop them.
            dm = re.match(r"DISTINCT\s+(.+)$", args[0].strip(), re.I | re.S)
            if dm:
                # list(DISTINCT x ORDER BY x): legal only when the
                # sort key IS the distinct expression (the standard's
                # rule) — distinct over the (guard, key, value)
                # struct is then distinct over x itself.
                if dm.group(1).strip() != key.strip():
                    return masked  # foreign key: loud, never guessed
                agg = (
                    f"array_agg(DISTINCT struct(({key}) {gnull} AS _n,"
                    f" {key} AS _ob, {dm.group(1)} AS _v))"
                )
            else:
                agg = (
                    f"array_agg(struct(({key}) {gnull} AS _n,"
                    f" {key} AS _ob, {args[0]} AS _v))"
                )
            repl = f"transform(sort_array({agg}, {asc}), p -> p._v)"
        masked = masked[: m.start()] + repl + masked[close:]


# ------------------------------------------- list comprehensions


_ARRAY_CALL_RE = re.compile(r"\barray\(", re.I)


def _rewrite_list_comprehensions(masked: str) -> str:
    """DuckDB list comprehensions ``[expr FOR x IN lst [IF cond]]`` →
    ``transform(lst, x -> expr)`` / ``transform(filter(lst, x ->
    cond), x -> expr)``. By the time this pass runs, the bracket pair
    has already been classified as a list constructor and emitted as
    ``array( expr FOR x IN lst ... )`` — this pass recognizes the
    FOR/IN shape inside and replaces the whole call. Nested
    comprehensions resolve because the scan restarts after every
    rewrite (innermost arrays contain no FOR and pass through)."""
    while True:
        for m in _ARRAY_CALL_RE.finditer(masked):
            open_idx = m.end() - 1
            close = _match_paren(masked, open_idx)
            if close == -1:
                continue
            inner = masked[open_idx + 1 : close - 1]
            fors = list(_d0_matches(inner, r"\bFOR\b"))
            if not fors:
                continue
            expr = inner[: fors[0].start()].strip()
            rest = inner[fors[0].end():]
            ins = list(_d0_matches(rest, r"\bIN\b"))
            if not ins:
                continue
            var = rest[: ins[0].start()].strip()
            tail = rest[ins[0].end():]
            ifs = list(_d0_matches(tail, r"\bIF\b"))
            if ifs:
                lst = tail[: ifs[0].start()].strip()
                cond = tail[ifs[0].end():].strip()
                repl = (
                    f"transform(filter({lst}, {var} -> {cond}),"
                    f" {var} -> {expr})"
                )
            else:
                repl = f"transform({tail.strip()}, {var} -> {expr})"
            masked = masked[: m.start()] + repl + masked[close:]
            break  # indices shifted — rescan
        else:
            return masked


# ------------------------------------------------ prefix aliases


_PREFIX_ALIAS_RE = re.compile(
    r"(\bSELECT\b|,|\()(\s*)([A-Za-z_]\w*)\s*:(?![:=])", re.I
)
_ALIAS_STOP_RE = re.compile(
    r"\b(FROM|WHERE|GROUP|HAVING|ORDER|LIMIT|UNION|INTERSECT|EXCEPT|QUALIFY)\b",
    re.I,
)


def _rewrite_prefix_aliases(masked: str) -> str:
    """DuckDB 1.3 prefix aliases ``SELECT name: expr`` → ``expr AS
    name``. The alias scope ends at the next same-depth comma, a
    closing paren, or a clause keyword. ``:=`` (struct_pack named
    args) and ``::`` casts never match; string literals are masked.
    A colon in valid Spark SQL is a parse error outside these forms,
    so the fallback contract holds."""
    while True:
        m = _PREFIX_ALIAS_RE.search(masked)
        if m is None:
            return masked
        start = m.end()  # just after ':'
        depth = 0
        end = len(masked)
        i = start
        while i < len(masked):
            ch = masked[i]
            if ch == "(":
                depth += 1
            elif ch == ")":
                if depth == 0:
                    end = i
                    break
                depth -= 1
            elif depth == 0:
                if ch == ",":
                    end = i
                    break
                km = _ALIAS_STOP_RE.match(masked, i)
                if km and not (masked[i - 1].isalnum() or masked[i - 1] == "_"):
                    end = i
                    break
            i += 1
        expr = masked[start:end].strip()
        masked = (
            masked[: m.start()]
            + f"{m.group(1)}{m.group(2)}{expr} AS {m.group(3)} "
            + masked[end:]
        )


# --------------------------------------------------- explicit guards


def _guard_unbridged(masked: str) -> None:
    """Constructs with no faithful text rewrite fail LOUDLY with the
    exact replacement, never silently change meaning (same policy as
    list_sort in _rewrite_code)."""
    if re.search(r"\[[^\[\]:]*(?<!:):(?!:)[^\[\]]*\]", masked):
        raise DialectError(
            "slice subscripts (x[a:b]) are not bridged: use"
            " list_slice(l, begin, end) for lists (bridged r13, same"
            " 1-based inclusive semantics as the bracket form) or"
            " substr(s, start, length) for strings — the bracket form"
            " is type-dependent in DuckDB and has no Spark equivalent."
        )
    # window-frame EXCLUDE (r13 probe): NO OTHERS is DuckDB's default
    # (dropped by _rewrite_code); the real exclusions have no Spark
    # frame spelling — refuse with the subtraction workaround named
    if re.search(
        r"\bEXCLUDE\s+(CURRENT\s+ROW|TIES|GROUP)\b", masked, re.I
    ):
        raise DialectError(
            "window frame EXCLUDE CURRENT ROW/TIES/GROUP is not"
            " bridged (Spark frames cannot exclude rows): for"
            " invertible aggregates subtract the excluded part —"
            " sum(v) OVER frame - v for EXCLUDE CURRENT ROW"
        )
    # set-op context only: a bare "BY NAME" would also match ORDER/
    # GROUP BY over a column literally called "name" (r13 verify-
    # drive catch — a false refusal on every such fallback query)
    if re.search(
        r"\b(UNION|EXCEPT|INTERSECT)\s+(?:ALL\s+|DISTINCT\s+)?"
        r"BY\s+NAME\b",
        masked,
        re.I,
    ):
        raise DialectError(
            "BY NAME set operators are bridged only as a top-level"
            " UNION [ALL] BY NAME statement without a trailing ORDER"
            " BY/LIMIT (engine statement form, unionByName). For this"
            " shape, list the columns explicitly in the same order on"
            " both sides — Spark set operators match by position only."
        )
    if re.search(r"\bCOLUMNS\s*\(", masked, re.I):
        raise DialectError(
            "COLUMNS() is expanded only in the select list of a"
            " single-table SELECT over a stored table or view"
            " (COLUMNS(*), COLUMNS('regex'), COLUMNS(* EXCLUDE"
            " (...))) — this shape (subquery/join source, set"
            " operation, COLUMNS outside the select list, or an"
            " unresolvable table) needs the columns listed"
            " explicitly, or * EXCLUDE / * REPLACE for the"
            " subtractive forms"
        )
    # = ANY / <> ALL were bridged to IN / NOT IN in _rewrite_code
    # (exact per the SQL standard, probed on every NULL/empty edge);
    # the ORDERED quantifiers have no faithful text rewrite — the
    # min/max forms diverge on empty sets and NULL elements (r12
    # probe wave) — so they refuse with the manual rewrites named
    if re.search(r"(<=|>=|<>|!=|<|>|=)\s*(ANY|ALL|SOME)\s*\(", masked, re.I):
        raise DialectError(
            "quantified comparisons beyond = ANY/SOME and <> ALL are"
            " not bridged: rewrite x > ANY (SELECT v …) as"
            " EXISTS (SELECT 1 … WHERE x > v) and x > ALL (…) as"
            " NOT EXISTS (SELECT 1 … WHERE NOT (x > v) OR v IS NULL)"
            " — aggregate min/max forms diverge on empty sets and"
            " NULL elements"
        )


# ----------------------------------------- COLUMNS() macro expansion


_COLUMNS_CALL_RE = re.compile(r"\bCOLUMNS\s*\(", re.I)
_PLAIN_IDENT_RE = re.compile(r"^[A-Za-z_]\w*$")
_EXCLUDE_ARG_RE = re.compile(r"^\*\s*EXCLUDE\s*\(", re.I | re.S)


def _sql_ident(name: str) -> str:
    if _PLAIN_IDENT_RE.match(name):
        return name
    return '"' + name.replace('"', '""') + '"'


_POSIX_ASCII = {
    "alnum": "0-9A-Za-z", "alpha": "A-Za-z", "ascii": "\\x00-\\x7f",
    "blank": " \\t", "cntrl": "\\x00-\\x1f\\x7f", "digit": "0-9",
    "graph": "\\x21-\\x7e", "lower": "a-z", "print": "\\x20-\\x7e",
    "punct": "!-/:-@\\[-`{-~", "space": " \\t\\n\\r\\f\\v",
    "upper": "A-Z", "word": "0-9A-Za-z_", "xdigit": "0-9A-Fa-f",
}


def _re2_pattern_to_python(pat: str) -> str:
    """An RE2 pattern → Python ``re`` semantics, for the COLUMNS()
    macro (a THIRD regex dialect — the engine matches column names
    host-side).  Same probed divergence classes as the Java
    translation where Python shares them: POSIX classes (expanded to
    ASCII ranges — Python has no ``\\p{Digit}``), ``$`` (Python's
    also matches before a trailing newline → ``\\Z``), and
    invalid-quantifier ``{`` (literal in RE2, ``{,3}`` means {0,3} in
    Python — escaped).  Octal escapes and ``(?P<name>)`` already
    agree."""
    out: list[str] = []
    i, n = 0, len(pat)
    in_class = False
    multiline = _RE2_MULTILINE_RE.search(pat) is not None
    while i < n:
        ch = pat[i]
        if ch == "\\":
            out.append(pat[i : i + 2] if i + 1 < n else "\\")
            i += 2 if i + 1 < n else 1
            continue
        if in_class:
            if pat[i : i + 2] == "[:":
                close = pat.find(":]", i + 2)
                if close == -1:
                    raise DialectError(
                        f"regex pattern {pat!r}: unterminated POSIX"
                        " class (DuckDB rejects it)"
                    )
                name = pat[i + 2 : close]
                if name.startswith("^"):
                    raise DialectError(
                        f"COLUMNS pattern {pat!r}: negated POSIX"
                        " classes are not bridged here — spell the"
                        " class out ([^0-9] for [:^digit:])"
                    )
                repl = _POSIX_ASCII.get(name.lower())
                if repl is None:
                    raise DialectError(
                        f"regex pattern {pat!r}: unknown POSIX class"
                        f" [:{name}:] (DuckDB rejects it)"
                    )
                out.append(repl)
                i = close + 2
                continue
            if ch == "]":
                in_class = False
            out.append(ch)
            i += 1
            continue
        if ch == "[":
            in_class = True
            out.append(ch)
            i += 1
            if i < n and pat[i] == "^":
                out.append("^")
                i += 1
            continue
        if ch == "$" and not multiline:
            out.append("\\Z")
            i += 1
            continue
        if ch == "{":
            m = _JAVA_QUANT_RE.match(pat, i)
            if m is not None:
                out.append(m.group(0))
                i = m.end()
            else:
                out.append("\\{")
                i += 1
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def _columns_arg_cols(
    inner: str,
    literals: list[str],
    cols: list[str],
    escaped: bool,
) -> list[str] | None:
    """Columns selected by a COLUMNS(...) argument (masked text):
    ``*``, ``* EXCLUDE (a, b)`` or a regex literal.  DuckDB semantics,
    probed r13: the regex is a SEARCH (partial match — 'al' matches
    'val'), expansion keeps table column order, and zero matches is a
    loud binder error.  Returns None for unmodeled shapes (the caller
    leaves the text for _guard_unbridged's refusal); raises
    DialectError for modeled-but-wrong ones (lambda form, no match)."""
    inner = inner.strip()
    if "->" in inner:
        raise DialectError(
            "COLUMNS(lambda) is not bridged: use COLUMNS('regex') or"
            " COLUMNS(* EXCLUDE (...)) — the lambda form needs"
            " DuckDB's binder"
        )
    if inner == "*":
        return list(cols)
    m = _EXCLUDE_ARG_RE.match(inner)
    if m:
        close = _match_paren(inner, m.end() - 1)
        if close == -1 or inner[close:].strip():
            return None
        excluded = set()
        for tok in _split_d0_commas(inner[m.end() : close - 1]):
            lm = _LONE_MASK_RE.match(tok)
            if lm:
                lit = literals[int(lm.group(1))]
                excluded.add(lit[1:-1].replace('""', '"'))
            else:
                excluded.add(tok.lower())
        return [
            c for c in cols if c not in excluded and c.lower() not in excluded
        ]
    lm = _LONE_MASK_RE.match(inner)
    if lm and literals[int(lm.group(1))][:1] == "'":
        pat = literals[int(lm.group(1))][1:-1].replace("''", "'")
        if escaped:
            # the engine path runs AFTER escape_backslashes_for_spark
            # doubled every literal backslash — undo it, or a regex
            # like 'l_\d' silently matches nothing (r13 review catch)
            pat = pat.replace("\\\\", "\\")
        try:
            # the pattern is RE2 (DuckDB's dialect) — translate the
            # probed divergence classes before the host-side compile
            rx = re.compile(_re2_pattern_to_python(pat))
        except re.error as exc:
            raise DialectError(
                f"COLUMNS({pat!r}): invalid regular expression ({exc})"
            ) from None
        matched = [c for c in cols if rx.search(c)]
        if not matched:
            raise DialectError(
                f"COLUMNS({pat!r}): no matching columns (DuckDB raises"
                " the same binder error)"
            )
        return matched
    return None


def expand_columns_macro(
    sql: str, resolve, *, escaped: bool = False
) -> str:
    """Expand DuckDB's COLUMNS() dynamic projections when the target
    schema is resolvable (VERDICT r12 #4): in the select list of a
    single-table SELECT, each item holding one ``COLUMNS(*)`` /
    ``COLUMNS('regex')`` / ``COLUMNS(* EXCLUDE (...))`` duplicates per
    matching column with the macro replaced by the column reference
    and the item aliased to the column name — DuckDB's output naming
    even under aggregates (``min(COLUMNS(*))`` keeps the plain column
    names, probed r13).  ``resolve(table) -> list[str] | None`` is the
    engine's catalog/view lookup.  Shapes this cannot resolve
    (subquery FROM, joins, set operations, COLUMNS outside the select
    list) return the text unchanged so _guard_unbridged's loud
    refusal still names the supported forms."""
    if not _COLUMNS_CALL_RE.search(sql):
        return sql
    masked, literals = _mask_literals(sql)
    if not _COLUMNS_CALL_RE.search(masked):
        return sql
    m0 = re.match(r"\s*SELECT\b(\s+(?:DISTINCT|ALL)\b)?", masked, re.I)
    if m0 is None:
        return sql
    # depth-0 clause scan: the select list ends at the first depth-0
    # FROM; any depth-0 set operation disqualifies the whole text
    from_at = -1
    for dm in _d0_matches(
        masked[m0.end() :], r"\bFROM\b|\bUNION\b|\bINTERSECT\b|\bEXCEPT\b"
    ):
        if dm.group(0).upper() != "FROM":
            return sql
        if from_at == -1:
            from_at = m0.end() + dm.start()
    if from_at == -1:
        return sql
    select_list = masked[m0.end() : from_at]
    tail = masked[from_at + 4 :]
    if _COLUMNS_CALL_RE.search(tail):
        return sql  # COLUMNS outside the select list — refuse later
    tm = re.match(r"\s*([A-Za-z_][\w.]*)", tail)
    if tm is None:
        return sql  # subquery / VALUES source
    after = tail[tm.end() :].lstrip()
    if after[:1] == ",":
        return sql  # comma join — multi-table, unresolvable here
    if any(True for _ in _d0_matches(tail, r"\bJOIN\b")):
        return sql  # joined sources — COLUMNS(*) would span them
    cols = resolve(tm.group(1))
    if cols is None:
        return sql
    items = _split_d0_commas(select_list)
    out_items: list[str] = []
    changed = False
    for item in items:
        hits = list(_COLUMNS_CALL_RE.finditer(item))
        if not hits:
            out_items.append(item)
            continue
        if len(hits) > 1:
            return sql  # multi-macro item — unmodeled, refuse later
        if re.search(r"(?i)\s+AS\s+[\w\"`]+\s*$", item):
            raise DialectError(
                "an alias on a COLUMNS() item is not bridged — the"
                " expansion names each output after its column; drop"
                " the alias or list the columns explicitly"
            )
        hit = hits[0]
        open_idx = item.index("(", hit.end() - 1)
        close = _match_paren(item, open_idx)
        if close == -1:
            return sql
        selected = _columns_arg_cols(
            item[open_idx + 1 : close - 1], literals, cols, escaped
        )
        if selected is None:
            return sql
        for col in selected:
            ident = _sql_ident(col)
            out_items.append(
                item[: hit.start()] + ident + item[close:] + " AS " + ident
            )
        changed = True
    if not changed:
        return sql
    rebuilt = (
        masked[: m0.end()]
        + " "
        + ", ".join(out_items)
        + " "
        + masked[from_at:]
    )
    return _unmask_literals(rebuilt, literals)


# ----------------------------------------- whole-statement forms


_SUMMARIZE_RE = re.compile(r"^\s*SUMMARIZE\s+(.+?)\s*;?\s*$", re.I | re.S)
_PIVOT_STMT_RE = re.compile(
    r"^\s*PIVOT\s+([A-Za-z_]\w*)\s+ON\s+([A-Za-z_]\w*)"
    r"(?:\s+IN\s*\(([^)]*)\))?"
    r"(?:\s+USING\s+(.+?))?"
    r"(?:\s+GROUP\s+BY\s+(.+?))?\s*;?\s*$",
    re.I | re.S,
)


_DESCRIBE_STMT_RE = re.compile(
    r"^\s*(?:DESCRIBE|DESC)\s+(?!SELECT\b|FROM\b|WITH\b|VALUES\b|TABLE\b)"
    r"([A-Za-z_][\w.]*)\s*;?\s*$",
    re.I,
)
_DESCRIBE_QUERY_RE = re.compile(
    r"^\s*(?:DESCRIBE|DESC)\s+(?:TABLE\s+([A-Za-z_][\w.]*)"
    r"|((?:SELECT|FROM|WITH|VALUES)\b.+?))\s*;?\s*$",
    re.I | re.S,
)
_SHOW_TABLES_STMT_RE = re.compile(
    r"^\s*SHOW\s+(?:ALL\s+)?TABLES\s*;?\s*$", re.I
)
_SPARK_TO_DUCK_TYPES = {
    "long": "BIGINT", "integer": "INTEGER", "short": "SMALLINT",
    "byte": "TINYINT", "string": "VARCHAR", "double": "DOUBLE",
    "float": "FLOAT", "boolean": "BOOLEAN", "binary": "BLOB",
    "date": "DATE", "timestamp": "TIMESTAMP",
    "timestamp_ntz": "TIMESTAMP",
}


def spark_type_to_duckdb(dt) -> str:
    """A Spark DataType → the DuckDB type NAME DESCRIBE prints
    (BIGINT/VARCHAR/INTEGER[]/STRUCT(x INTEGER)/MAP(K, V)…)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return spark_type_to_duckdb(dt.elementType) + "[]"
    if isinstance(dt, T.MapType):
        return (
            f"MAP({spark_type_to_duckdb(dt.keyType)},"
            f" {spark_type_to_duckdb(dt.valueType)})"
        )
    if isinstance(dt, T.StructType):
        inner = ", ".join(
            f"{f.name} {spark_type_to_duckdb(f.dataType)}"
            for f in dt.fields
        )
        return f"STRUCT({inner})"
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    name = dt.typeName()
    return _SPARK_TO_DUCK_TYPES.get(name, name.upper())


def _split_ddl_cols(ddl: str) -> list[tuple[str, str]]:
    """``"a bigint, b decimal(10,2)"`` → ``[("a","bigint"), …]`` —
    top-level comma split (parens nest: DECIMAL/STRUCT types)."""
    cols, depth, start = [], 0, 0
    for i, ch in enumerate(ddl + ","):
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        elif ch == "," and depth == 0:
            part = ddl[start:i].strip()
            if part:
                name, typ = part.split(None, 1)
                cols.append((name.strip("`"), typ.strip()))
            start = i + 1
    return cols


def _sql_literal(v, typ: str) -> str:
    """One python value as CAST-pinned SQL literal text, or raise for
    anything outside the driver-built-result vocabulary (the caller
    falls back to createDataFrame)."""
    if v is None:
        return f"CAST(NULL AS {typ})"
    if isinstance(v, bool):
        return f"CAST({'TRUE' if v else 'FALSE'} AS {typ})"
    if isinstance(v, int):
        return f"CAST({v} AS {typ})"
    if isinstance(v, float):
        # a bare 1.5 parses as DECIMAL (CAST(-0.0 AS double) is 0.0);
        # the string cast parses repr exactly, nan/inf/-0.0 included
        return f"CAST('{v!r}' AS {typ})"
    if isinstance(v, str):
        out = []
        for ch in v:
            if ch == "\\":
                out.append("\\\\")
            elif ch == "'":
                out.append("\\'")
            elif ord(ch) < 0x20 or ord(ch) == 0x7F or ch == "$":
                # '$' too: spark.sql substitutes ${...} before parsing
                out.append(f"\\u{ord(ch):04X}")
            else:
                out.append(ch)
        return f"CAST('{''.join(out)}' AS {typ})"
    if isinstance(v, list) and typ.lower().startswith("array<"):
        elem = typ[typ.index("<") + 1:typ.rindex(">")]
        items = ", ".join(_sql_literal(x, elem) for x in v)
        return f"CAST(ARRAY({items}) AS {typ})"
    raise ValueError(f"no literal rendering for {type(v).__name__}")


def local_result_df(spark, rows, ddl: str):
    """Driver-built rows (DML counts, DESCRIBE/SHOW shapes, compaction
    summaries, operator query frames, registry fixtures) as a VALUES
    LocalRelation with the column types of ``createDataFrame(rows,
    ddl)``.  It plans as LocalTableScan: collecting it, or broadcasting
    it into a join, submits no job, where a createDataFrame frame is a
    PythonRDD that launches a Python-worker job on every action.

    Vocabulary, each value CAST to its DDL column type: NULL, bool,
    int, str (backslash, quote, control characters and ``$`` escaped)
    and float, plus lists of those for ``array<…>`` columns (NULL
    elements and empty lists included).  Every float renders as
    ``CAST('<repr>' AS <type>)``, which is bit-exact for finite values,
    -0.0, subnormals, NaN and ±inf.  Empty row sets use LIMIT 0, which
    folds to an empty LocalRelation.  A value outside the vocabulary
    (a ``datetime.date``, say) falls back to createDataFrame — same
    rows, one job per action — and logs a WARNING naming the value
    type and the DDL.  Either way the result carries
    ``_sd_local_result`` for engine._fetch_rows."""
    cols = _split_ddl_cols(ddl)
    try:
        names = ", ".join("`" + n.replace("`", "``") + "`" for n, _ in cols)
        if rows:
            values = ", ".join(
                "(" + ", ".join(
                    _sql_literal(v, t) for v, (_, t) in zip(row, cols)
                ) + ")"
                for row in rows
            )
            df = spark.sql(f"SELECT * FROM (VALUES {values}) AS t({names})")
        else:
            body = ", ".join(
                f"CAST(NULL AS {t}) AS `" + n.replace("`", "``") + "`"
                for n, t in cols
            )
            df = spark.sql(f"SELECT {body} LIMIT 0")
    except Exception as err:
        reason = (str(err).splitlines() or [type(err).__name__])[0]
        _LOG.warning(
            "local_result_df: createDataFrame fallback for %r: %s",
            ddl, reason,
        )
        df = spark.createDataFrame(rows, ddl)
    df._sd_local_result = True
    return df


def describe_form_df(spark, query: str, tables=None, run_sql=None):
    """``DESCRIBE t`` / ``DESCRIBE SELECT …`` / ``SHOW TABLES`` with
    DUCKDB's output shapes (probed: DESCRIBE = column_name /
    column_type / null / key / default / extra with DuckDB type
    names; SHOW TABLES = one ``name`` column).  Stock Spark ACCEPTS
    these statements with its own catalogs' shapes, so the engine's
    speaks-DuckDB contract intercepts them BEFORE the stock parse —
    the same decision as the literal-semantics bridge.  Returns None
    for any other text; ``tables`` is a callable yielding the
    engine's table/view names (SHOW TABLES passes through to stock
    Spark when absent)."""
    m = _DESCRIBE_STMT_RE.match(query) or _DESCRIBE_QUERY_RE.match(query)
    if m:
        target = (m.group(1) or "").strip()
        body = m.group(2).strip() if m.lastindex and m.lastindex >= 2 and m.group(2) else ""
        if body:
            # the body may itself be DuckDB-dialect text — route it
            # through the engine's query path when one is provided
            schema = (run_sql or spark.sql)(body).schema
        else:
            schema = spark.table(target).schema
        rows = [
            (f.name, spark_type_to_duckdb(f.dataType), "YES", None,
             None, None)
            for f in schema.fields
        ]
        # driver-built shape: a LocalRelation, so the serializers
        # fetch it without any job (local_result_df / _fetch_rows)
        return local_result_df(
            spark,
            rows,
            "column_name string, column_type string, null string,"
            " key string, default string, extra string",
        )
    if tables is not None and _SHOW_TABLES_STMT_RE.match(query):
        return local_result_df(
            spark, [(n,) for n in sorted(tables())], "name string"
        )
    return None


def statement_form_df(spark, query: str):
    """DuckDB whole-statement forms with no SQL-text equivalent —
    ``SUMMARIZE`` and the simplified ``PIVOT`` statement. Returns a
    DataFrame, or None when the text is neither form. Called from the
    engine's dialect fallback (engine.py query_df), so stock-Spark
    text never arrives here.

    ``SUMMARIZE t`` / ``SUMMARIZE SELECT ...``: DuckDB's per-column
    profile (column_name/type, min/max, approx_unique, avg, std,
    q25/q50/q75, count, null_percentage). One distributed aggregation
    pass over all columns, then a JVM-side ``stack`` to rows — no
    driver collect, works at any scale.

    ``PIVOT t ON col [IN (v,..)] [USING agg(x) [, ...]] [GROUP BY g]``:
    maps to ``df.groupBy(g).pivot(col[, values]).agg(...)``. Without
    GROUP BY, groups on every column not pivoted and not referenced by
    an aggregate — DuckDB's implicit rule. Without USING, counts rows
    (DuckDB default). Without IN, Spark's pivot runs the same distinct
    scan DuckDB does to discover values."""
    m = _SUMMARIZE_RE.match(query)
    if m and not _PIVOT_STMT_RE.match(query):
        from pyspark.sql import functions as F

        src = m.group(1).strip()
        df = (
            spark.sql(src)
            if re.match(r"(?is)^\s*(select|from|with|values)\b", src)
            else spark.table(src)
        )
        numeric = {
            f.name
            for f in df.schema.fields
            if f.dataType.typeName()
            in ("byte", "short", "integer", "long", "float", "double", "decimal")
        }
        aggs, stacks = [], []
        total = F.count(F.lit(1)).alias("__n")
        for i, f in enumerate(df.schema.fields):
            c = df[f.name]
            aggs += [
                F.min(c).cast("string").alias(f"mn{i}"),
                F.max(c).cast("string").alias(f"mx{i}"),
                F.approx_count_distinct(c).alias(f"au{i}"),
                (
                    F.avg(c) if f.name in numeric else F.lit(None)
                ).cast("double").alias(f"av{i}"),
                (
                    F.stddev(c) if f.name in numeric else F.lit(None)
                ).cast("double").alias(f"sd{i}"),
                *[
                    (
                        F.percentile_approx(c, q) if f.name in numeric else F.lit(None)
                    ).cast("double").alias(f"q{int(q * 100)}_{i}")
                    for q in (0.25, 0.5, 0.75)
                ],
                F.count(c).alias(f"ct{i}"),
            ]
            name_lit = f.name.replace("'", "''")
            type_lit = f.dataType.simpleString().replace("'", "''")
            stacks.append(
                f"'{name_lit}', '{type_lit}', mn{i}, mx{i}, au{i}, av{i},"
                f" sd{i}, q25_{i}, q50_{i}, q75_{i}, __n,"
                f" round(100.0 * (__n - ct{i}) / nullif(__n, 0), 2)"
            )
        one = df.agg(total, *aggs)
        return one.selectExpr(
            f"stack({len(stacks)}, {', '.join(stacks)}) AS (column_name,"
            " column_type, min, max, approx_unique, avg, std, q25, q50,"
            " q75, count, null_percentage)"
        )

    by_name = _union_by_name_df(spark, query)
    if by_name is not None:
        return by_name

    m = _PIVOT_STMT_RE.match(query)
    if m:
        from pyspark.sql import functions as F

        table, on_col, in_list, using, group_by = m.groups()
        df = spark.table(table)
        agg_texts = (
            _split_top_level_commas_text(using) if using else ["count(*)"]
        )
        agg_exprs = (
            [F.expr(a) for a in agg_texts] if using else [F.count(F.lit(1))]
        )
        if group_by:
            group_cols = [g.strip() for g in group_by.split(",")]
        else:
            using_text = using or ""
            group_cols = [
                c
                for c in df.columns
                if c.lower() != on_col.lower()
                and not re.search(rf"\b{re.escape(c)}\b", using_text, re.I)
            ]
        piv = df.groupBy(*group_cols).pivot(
            on_col,
            [v.strip().strip("'\"") for v in in_list.split(",")]
            if in_list
            else None,
        )
        out = piv.agg(*agg_exprs)
        # DuckDB's PIVOT statement renders an empty COUNT cell as 0;
        # Spark's pivot leaves it NULL. Patch the count-backed output
        # columns (all of them for a single count agg; by name suffix
        # for multi-agg pivots) so API callers see DuckDB's values.
        count_like = [
            a for a in agg_texts if re.match(r"(?is)^\s*count\s*\(", a)
        ]
        if count_like:
            group_set = {c.lower() for c in group_cols}
            fixed = []
            for c in out.columns:
                is_count_col = c.lower() not in group_set and (
                    len(agg_texts) == 1
                    or any(a in c for a in count_like)
                )
                fixed.append(
                    F.coalesce(F.col(f"`{c}`"), F.lit(0)).alias(c)
                    if is_count_col
                    else F.col(f"`{c}`")
                )
            out = out.select(*fixed)
        return out
    return None


def _split_top_level_commas_text(text: str) -> list[str]:
    """Depth-0 comma split over RAW text: literals are masked for the
    split, then each piece is unmasked."""
    masked, literals = _mask_literals(text)
    return [_unmask_literals(p, literals) for p in _split_d0_commas(masked)]


_ORDER_LIMIT_RE = re.compile(
    r"\bORDER\s+BY\b|\bLIMIT\b|\bOFFSET\b", re.I
)


def _union_by_name_df(spark, query: str):
    """Top-level ``A UNION [ALL] BY NAME B [...]`` → chained
    ``unionByName(allowMissingColumns=True)`` — DuckDB's by-name set
    union: columns match by name, absentees fill with NULL. Spark's
    SQL UNION is positional only, but its DataFrame op is exactly
    this, so the statement becomes a DataFrame plan rather than a
    text rewrite. Plain UNION (no ALL) deduplicates after the union,
    same as DuckDB. Each branch may itself need the dialect rewriter.
    A trailing depth-0 ORDER BY / LIMIT on the final branch would
    bind to the whole statement in DuckDB but to one branch here —
    those pass through to the loud BY NAME guard instead of running
    with silently different meaning."""
    masked, literals = _mask_literals(query)
    hits = list(_d0_matches(masked, r"\bUNION\s+(?:ALL\s+)?BY\s+NAME\b"))
    if not hits:
        return None
    last_seg = masked[hits[-1].end():]
    # statement-level (depth-0) ORDER BY/LIMIT only — one inside an
    # OVER() clause or subquery of the last branch is that branch's
    if any(
        _ORDER_LIMIT_RE.fullmatch(m.group(0))
        for m in _d0_matches(last_seg, _ORDER_LIMIT_RE.pattern)
    ):
        return None  # global ORDER/LIMIT: no faithful branch split
    segments, pos = [], 0
    for h in hits:
        segments.append(masked[pos : h.start()])
        pos = h.end()
    segments.append(masked[pos:])

    def run(seg_masked: str):
        seg = _unmask_literals(seg_masked, literals).strip()
        try:
            return spark.sql(seg)
        except Exception:
            return spark.sql(rewrite(seg))

    # left-associative like DuckDB: UNION (no ALL) deduplicates the
    # accumulated result BEFORE the next branch is appended
    out = run(segments[0])
    for h, seg in zip(hits, segments[1:]):
        out = out.unionByName(run(seg), allowMissingColumns=True)
        if not re.search(r"\bALL\b", h.group(0), re.I):
            out = out.distinct()
    return out


# -------------------------------------------------------------- qualify


def _rewrite_qualify(sql: str) -> str:
    """``SELECT ... QUALIFY <pred> [ORDER BY ...] [LIMIT ...]`` →
    ``SELECT * FROM ( SELECT ... ) __q WHERE <pred> ...`` — filters on
    window-function results, DuckDB/Snowflake semantics. Applied only
    when exactly one top-level QUALIFY exists (paren depth 0) and the
    statement has NO top-level set operator: DuckDB binds QUALIFY to
    the last SELECT of a UNION/INTERSECT/EXCEPT, so wrapping the whole
    statement would compute the window over every branch — silently
    different results. Such statements pass through untouched."""
    segs = _segments(sql)
    # locate QUALIFY at depth 0 across code segments
    depth = 0
    pos = -1  # char offset in original sql
    offset = 0
    setop = re.compile(
        r"[()]|\bQUALIFY\b|\bUNION\b|\bINTERSECT\b|\bEXCEPT\b|\bMINUS\b", re.I
    )
    for is_code, text in segs:
        if is_code:
            for m in setop.finditer(text):
                tok = m.group(0).upper()
                if tok == "(":
                    depth += 1
                elif tok == ")":
                    depth -= 1
                elif depth == 0 and tok != "QUALIFY":
                    # ``* EXCEPT (a, b)`` is a select-list modifier,
                    # not a set operation: preceded by ``*``
                    before = sql[: offset + m.start()].rstrip()
                    if tok == "EXCEPT" and before.endswith("*"):
                        continue
                    return sql  # top-level set operation: give up
                elif depth == 0:
                    if pos != -1:
                        return sql  # two top-level QUALIFYs: give up
                    pos = offset + m.start()
        offset += len(text)
    if pos == -1:
        return sql
    head = sql[:pos].rstrip()
    tail = sql[pos + len("QUALIFY") :].strip()
    # split trailing ORDER BY / LIMIT out of the predicate — they must
    # land OUTSIDE the wrapper, after the WHERE. Depth-0 only: an
    # ORDER BY inside the predicate's own OVER (...) clause is part of
    # the window spec, not the statement tail.
    split_at = -1
    depth = 0
    offset = 0
    for seg_is_code, seg_text in _segments(tail):
        if seg_is_code:
            for m in re.finditer(r"[()]|\bORDER\s+BY\b|\bLIMIT\b", seg_text, flags=re.I):
                tok = m.group(0)
                if tok == "(":
                    depth += 1
                elif tok == ")":
                    depth -= 1
                elif depth == 0 and split_at == -1:
                    split_at = offset + m.start()
        offset += len(seg_text)
    if split_at != -1:
        pred, rest = tail[:split_at].strip(), tail[split_at:]
    else:
        pred, rest = tail, ""
    # The predicate may itself contain a window function (QUALIFY
    # row_number() OVER (...) = 1 — the most common form), which Spark
    # rejects in WHERE. Compute it as a projected column in an inner
    # SELECT (where windows ARE legal), filter on it, then drop it.
    return (
        f"SELECT * EXCEPT (__qualify_pred) FROM ("
        f" SELECT *, ({pred}) AS __qualify_pred FROM ( {head} ) __qualify_src"
        f" ) WHERE __qualify_pred {rest}"
    ).strip()


# ---------------------------------------------------------------- public

COMPAT_FUNCTIONS = [
    # DuckDB epoch helpers (ts → seconds / millis / micros)
    "CREATE OR REPLACE TEMPORARY FUNCTION epoch_us(x TIMESTAMP)"
    " RETURNS BIGINT RETURN unix_micros(x)",
    "CREATE OR REPLACE TEMPORARY FUNCTION epoch_ms(x TIMESTAMP)"
    " RETURNS BIGINT RETURN unix_millis(x)",
    # DuckDB's epoch() returns DOUBLE seconds INCLUDING the fraction
    "CREATE OR REPLACE TEMPORARY FUNCTION epoch(x TIMESTAMP)"
    " RETURNS DOUBLE RETURN unix_micros(x) / 1000000.0D",
    # epoch_ns: DuckDB timestamps are microsecond-resolution, so the
    # nanosecond count is exactly micros * 1000 (r13)
    "CREATE OR REPLACE TEMPORARY FUNCTION epoch_ns(x TIMESTAMP)"
    " RETURNS BIGINT RETURN unix_micros(x) * 1000",
    # literal-separator split (Spark's split takes a REGEX; \Q..\E
    # quotes the separator so '.' splits on dots, not everything).
    # char(92) spells the backslash WITHOUT a string escape, so the
    # body parses identically under both escapedStringLiterals
    # settings (r12: destination sessions run =true for DuckDB
    # literal parity, and registration order must not matter)
    "CREATE OR REPLACE TEMPORARY FUNCTION string_split(s STRING, sep STRING)"
    " RETURNS ARRAY<STRING> RETURN"
    " split(s, concat(char(92), 'Q', sep, char(92), 'E'))",
    "CREATE OR REPLACE TEMPORARY FUNCTION regexp_matches(s STRING, p STRING)"
    " RETURNS BOOLEAN RETURN s RLIKE p",
    # list_sort is deliberately ABSENT: a typed SQL UDF would coerce
    # numeric arrays to ARRAY<STRING> and sort lexicographically —
    # silently wrong. Users get a loud unresolved-function error and
    # sort_array(), which matches DuckDB's list_sort for every type.
    # list_sum matches DuckDB's VALUE semantics exactly: NULL elements
    # are ignored (sum-like), an empty or all-NULL list is NULL (the
    # old 0.0-seeded aggregate NULL-poisoned on NULL elements and
    # returned 0 for [], both silently wrong values — r11 differential
    # probe catch).  One DOCUMENTED divergence remains: the result is
    # DOUBLE where DuckDB keeps HUGEINT/DECIMAL (a typed SQL UDF has
    # one signature) — values are numerically equal, the printed type
    # differs (6.0 vs 6).
    "CREATE OR REPLACE TEMPORARY FUNCTION list_sum(a ARRAY<DOUBLE>)"
    " RETURNS DOUBLE RETURN aggregate("
    "filter(a, x -> x IS NOT NULL), CAST(NULL AS DOUBLE),"
    " (acc, x) -> coalesce(acc, 0.0D) + x)",
    # list_avg: NULL elements ignored, empty / all-NULL / NULL list →
    # NULL (probed r13; the try_divide's zero count covers all-NULL).
    # Same DOUBLE-width note as list_sum.
    "CREATE OR REPLACE TEMPORARY FUNCTION list_avg(a ARRAY<DOUBLE>)"
    " RETURNS DOUBLE RETURN try_divide("
    "aggregate(filter(a, x -> x IS NOT NULL), CAST(NULL AS DOUBLE),"
    " (acc, x) -> coalesce(acc, 0.0D) + x),"
    " size(filter(a, x -> x IS NOT NULL)))",
    # DuckDB's today(); now() exists natively in Spark
    "CREATE OR REPLACE TEMPORARY FUNCTION today()"
    " RETURNS DATE RETURN current_date",
    # hamming/mismatches: positionwise differing characters of
    # equal-length strings; unequal lengths raise, like DuckDB (r13)
    "CREATE OR REPLACE TEMPORARY FUNCTION hamming(a STRING, b STRING)"
    " RETURNS BIGINT RETURN CASE"
    " WHEN a IS NULL OR b IS NULL THEN CAST(NULL AS BIGINT)"
    " WHEN length(a) <> length(b) THEN"
    " CAST(raise_error('hamming: strings must be of equal length')"
    " AS BIGINT)"
    " ELSE size(filter(sequence(1, length(a)),"
    " i -> substring(a, i, 1) <> substring(b, i, 1))) END",
    "CREATE OR REPLACE TEMPORARY FUNCTION mismatches(a STRING, b STRING)"
    " RETURNS BIGINT RETURN hamming(a, b)",
    # jaccard: character-SET similarity, case-sensitive (probed:
    # 'duck'/'luck' → 0.6)
    "CREATE OR REPLACE TEMPORARY FUNCTION jaccard(a STRING, b STRING)"
    " RETURNS DOUBLE RETURN CASE"
    " WHEN a IS NULL OR b IS NULL THEN CAST(NULL AS DOUBLE)"
    " ELSE try_divide("
    " size(array_intersect(split(a, ''), split(b, ''))),"
    " size(array_union(split(a, ''), split(b, '')))) END",
    # list vector math (r13): DuckDB's list_inner_product /
    # list_cosine_similarity / list_distance (the LIST forms; the
    # fixed-size array_* spellings alias onto these)
    "CREATE OR REPLACE TEMPORARY FUNCTION list_inner_product"
    "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) RETURNS DOUBLE RETURN"
    " aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D,"
    " (acc, v) -> acc + v)",
    "CREATE OR REPLACE TEMPORARY FUNCTION list_distance"
    "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) RETURNS DOUBLE RETURN"
    " sqrt(aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)),"
    " 0.0D, (acc, v) -> acc + v))",
    "CREATE OR REPLACE TEMPORARY FUNCTION list_cosine_similarity"
    "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) RETURNS DOUBLE RETURN"
    " try_divide(list_inner_product(a, b),"
    " sqrt(list_inner_product(a, a))"
    " * sqrt(list_inner_product(b, b)))",
    # regexp_escape: backslash every RE2/Java metacharacter; the
    # backslash is spelled chr(92) so the body parses identically
    # under both escapedStringLiterals settings (string_split note)
    "CREATE OR REPLACE TEMPORARY FUNCTION regexp_escape(s STRING)"
    " RETURNS STRING RETURN CASE WHEN s IS NULL"
    " THEN CAST(NULL AS STRING) ELSE"
    " array_join(transform(split(s, ''), c -> CASE"
    " WHEN position(c, concat(chr(92), '.^$*+?()[]{}|')) > 0"
    " THEN concat(chr(92), c) ELSE c END), '') END",
    # to_hex matches Spark's hex() (both uppercase, both 64-bit
    # two's-complement for negatives — probed r11)
    "CREATE OR REPLACE TEMPORARY FUNCTION to_hex(x BIGINT)"
    " RETURNS STRING RETURN hex(x)",
    # DuckDB's regexp_full_match (also what its ~ / SIMILAR TO mean):
    # anchor the pattern because Spark's RLIKE is a PARTIAL match.
    # \A..\z, not ^..$ — Java's $ also matches before a trailing
    # newline, so '^..$' accepted 'abc\n' where DuckDB refuses (r13
    # regex-dialect wave); chr(92) spells the backslash so the body
    # parses identically under both escapedStringLiterals settings
    "CREATE OR REPLACE TEMPORARY FUNCTION regexp_full_match"
    "(s STRING, p STRING) RETURNS BOOLEAN"
    " RETURN s RLIKE concat(chr(92), 'A(?:', p, ')', chr(92), 'z')",
    # r11 wave-5 additions, each value-probed against DuckDB
    "CREATE OR REPLACE TEMPORARY FUNCTION sha256(s STRING)"
    " RETURNS STRING RETURN sha2(s, 256)",
    # Spark's ^ IS bitwise xor — DuckDB spells it as a function too
    "CREATE OR REPLACE TEMPORARY FUNCTION xor(a BIGINT, b BIGINT)"
    " RETURNS BIGINT RETURN a ^ b",
    # ISO day of week, Monday=1 … Sunday=7 (Spark's weekday is
    # Monday=0)
    "CREATE OR REPLACE TEMPORARY FUNCTION isodow(d DATE)"
    " RETURNS BIGINT RETURN weekday(d) + 1",
    "CREATE OR REPLACE TEMPORARY FUNCTION isinf(x DOUBLE)"
    " RETURNS BOOLEAN RETURN x = double('Infinity')"
    " OR x = double('-Infinity')",
    # isfinite: neither NaN nor infinite; NULL → NULL (r13)
    "CREATE OR REPLACE TEMPORARY FUNCTION isfinite(x DOUBLE)"
    " RETURNS BOOLEAN RETURN NOT (isnan(x)"
    " OR x = double('Infinity') OR x = double('-Infinity'))",
    # even: round AWAY from zero to the next even number (probed r13:
    # 2.5 → 4, -2.5 → -4, 2 → 2, 3 → 4, -0.5 → -2)
    "CREATE OR REPLACE TEMPORARY FUNCTION even(x DOUBLE)"
    " RETURNS DOUBLE RETURN CASE"
    " WHEN x >= 0 THEN 2.0D * ceil(x / 2.0D)"
    " ELSE 2.0D * floor(x / 2.0D) END",
    # gcd/lcm: Euclid as a bounded fold — 92 steps covers the 64-bit
    # worst case (consecutive Fibonacci numbers); signs drop like
    # DuckDB (gcd(-12, 18) = 6, lcm(4, -6) = 12, gcd(0, 0) = 0)
    "CREATE OR REPLACE TEMPORARY FUNCTION gcd(a BIGINT, b BIGINT)"
    " RETURNS BIGINT RETURN aggregate(sequence(1, 92),"
    " named_struct('x', abs(a), 'y', abs(b)),"
    " (_g, _i) -> CASE WHEN _g.y = 0 THEN _g"
    " ELSE named_struct('x', _g.y, 'y', _g.x % _g.y) END).x",
    "CREATE OR REPLACE TEMPORARY FUNCTION lcm(a BIGINT, b BIGINT)"
    " RETURNS BIGINT RETURN CASE WHEN a = 0 OR b = 0 THEN 0"
    " ELSE (abs(a) DIV gcd(a, b)) * abs(b) END",
    # interval constructors (probed r13: day-time ones land exactly
    # on make_dt_interval; month-granularity ones are YEAR TO MONTH
    # intervals — calendar-correct under DATE arithmetic, where
    # DuckDB's python client merely APPROXIMATES them as 30-day
    # timedeltas when printing)
    "CREATE OR REPLACE TEMPORARY FUNCTION to_days(n BIGINT)"
    " RETURNS INTERVAL DAY TO SECOND RETURN"
    " make_dt_interval(CAST(n AS INT))",
    "CREATE OR REPLACE TEMPORARY FUNCTION to_weeks(n BIGINT)"
    " RETURNS INTERVAL DAY TO SECOND RETURN"
    " make_dt_interval(CAST(n * 7 AS INT))",
    "CREATE OR REPLACE TEMPORARY FUNCTION to_hours(n BIGINT)"
    " RETURNS INTERVAL DAY TO SECOND RETURN"
    " make_dt_interval(0, CAST(n AS INT))",
    "CREATE OR REPLACE TEMPORARY FUNCTION to_minutes(n BIGINT)"
    " RETURNS INTERVAL DAY TO SECOND RETURN"
    " make_dt_interval(0, 0, CAST(n AS INT))",
    "CREATE OR REPLACE TEMPORARY FUNCTION to_seconds(n BIGINT)"
    " RETURNS INTERVAL DAY TO SECOND RETURN"
    " make_dt_interval(0, 0, 0, CAST(n AS DECIMAL(18,6)))",
    "CREATE OR REPLACE TEMPORARY FUNCTION to_milliseconds(n BIGINT)"
    " RETURNS INTERVAL DAY TO SECOND RETURN"
    " make_dt_interval(0, 0, 0, CAST(n / 1000.0 AS DECIMAL(18,6)))",
    "CREATE OR REPLACE TEMPORARY FUNCTION to_microseconds(n BIGINT)"
    " RETURNS INTERVAL DAY TO SECOND RETURN"
    " make_dt_interval(0, 0, 0, CAST(n / 1000000.0 AS DECIMAL(18,6)))",
    "CREATE OR REPLACE TEMPORARY FUNCTION to_months(n BIGINT)"
    " RETURNS INTERVAL YEAR TO MONTH RETURN"
    " make_ym_interval(0, CAST(n AS INT))",
    "CREATE OR REPLACE TEMPORARY FUNCTION to_years(n BIGINT)"
    " RETURNS INTERVAL YEAR TO MONTH RETURN"
    " make_ym_interval(CAST(n AS INT))",
    "CREATE OR REPLACE TEMPORARY FUNCTION to_decades(n BIGINT)"
    " RETURNS INTERVAL YEAR TO MONTH RETURN"
    " make_ym_interval(CAST(n * 10 AS INT))",
    "CREATE OR REPLACE TEMPORARY FUNCTION to_centuries(n BIGINT)"
    " RETURNS INTERVAL YEAR TO MONTH RETURN"
    " make_ym_interval(CAST(n * 100 AS INT))",
    "CREATE OR REPLACE TEMPORARY FUNCTION to_millennia(n BIGINT)"
    " RETURNS INTERVAL YEAR TO MONTH RETURN"
    " make_ym_interval(CAST(n * 1000 AS INT))",
    # format_bytes: binary units, ONE decimal TRUNCATED (probed r13:
    # 2047 → '1.9 KiB', not 2.0), singular '1 byte', PiB is the top
    # unit (2^60 → '1024.0 PiB'), sign kept
    "CREATE OR REPLACE TEMPORARY FUNCTION format_bytes(x BIGINT)"
    " RETURNS STRING RETURN CASE WHEN x IS NULL THEN NULL"
    " WHEN abs(x) < 1024 THEN concat(CAST(x AS STRING),"
    " CASE WHEN abs(x) = 1 THEN ' byte' ELSE ' bytes' END)"
    " ELSE concat(CASE WHEN x < 0 THEN '-' ELSE '' END,"
    " format_string('%.1f', floor(abs(CAST(x AS DOUBLE))"
    " / pow(1024.0D, least(CAST(floor(log2(abs(CAST(x AS DOUBLE)))"
    " / 10) AS INT), 5)) * 10.0D) / 10.0D), ' ',"
    " element_at(array('KiB', 'MiB', 'GiB', 'TiB', 'PiB'),"
    " least(CAST(floor(log2(abs(CAST(x AS DOUBLE))) / 10) AS INT),"
    " 5))) END",
    # parse_path family (probed r13 on every corner below): the
    # separator argument maps 'system'/'forward_slash' → '/',
    # 'backslash' → \\, 'both_slash' → either (the engine's host
    # convention is '/', like DuckDB's on this platform).  A leading
    # separator is its own root component; empty components drop.
    "CREATE OR REPLACE TEMPORARY FUNCTION parse_path"
    "(p STRING, sep STRING) RETURNS ARRAY<STRING> RETURN"
    " CASE WHEN p IS NULL THEN NULL ELSE"
    " (CASE WHEN p RLIKE concat('^', CASE lower(sep)"
    "   WHEN 'backslash' THEN concat(chr(92), chr(92))"
    "   WHEN 'both_slash' THEN concat('[/', chr(92), chr(92), ']')"
    "   ELSE '/' END)"
    "  THEN array(substring(p, 1, 1)) ELSE array() END)"
    " || filter(split(p, CASE lower(sep)"
    "   WHEN 'backslash' THEN concat(chr(92), chr(92))"
    "   WHEN 'both_slash' THEN concat('[/', chr(92), chr(92), ']')"
    "   ELSE '/' END), _pc -> _pc <> '') END",
    # parse_dirpath: strip the trailing component and ONE trailing
    # separator ('/a/b/c.txt' → '/a/b', '/a.txt' → '', 'a/b/' →
    # 'a/b', all-separator input stays itself)
    "CREATE OR REPLACE TEMPORARY FUNCTION parse_dirpath"
    "(p STRING, sep STRING) RETURNS STRING RETURN"
    " CASE WHEN p IS NULL THEN NULL"
    " WHEN p RLIKE concat('^(?:', CASE lower(sep)"
    "   WHEN 'backslash' THEN concat(chr(92), chr(92))"
    "   WHEN 'both_slash' THEN concat('[/', chr(92), chr(92), ']')"
    "   ELSE '/' END, ')+$') THEN p"
    " ELSE regexp_replace(p, concat('(?:', CASE lower(sep)"
    "   WHEN 'backslash' THEN concat(chr(92), chr(92))"
    "   WHEN 'both_slash' THEN concat('[/', chr(92), chr(92), ']')"
    "   ELSE '/' END, ')?', CASE lower(sep)"
    "   WHEN 'backslash' THEN concat('[^', chr(92), chr(92), ']')"
    "   WHEN 'both_slash' THEN concat('[^/', chr(92), chr(92), ']')"
    "   ELSE '[^/]' END, '*$'), '') END",
    # parse_dirname: the FIRST path component — the root separator
    # for absolute paths, '' when no separator at all
    "CREATE OR REPLACE TEMPORARY FUNCTION parse_dirname"
    "(p STRING, sep STRING) RETURNS STRING RETURN"
    " CASE WHEN p IS NULL THEN NULL"
    " WHEN p RLIKE concat('^', CASE lower(sep)"
    "   WHEN 'backslash' THEN concat(chr(92), chr(92))"
    "   WHEN 'both_slash' THEN concat('[/', chr(92), chr(92), ']')"
    "   ELSE '/' END) THEN substring(p, 1, 1)"
    " WHEN p RLIKE CASE lower(sep)"
    "   WHEN 'backslash' THEN concat(chr(92), chr(92))"
    "   WHEN 'both_slash' THEN concat('[/', chr(92), chr(92), ']')"
    "   ELSE '/' END"
    " THEN regexp_extract(p, concat('^(', CASE lower(sep)"
    "   WHEN 'backslash' THEN concat('[^', chr(92), chr(92), ']')"
    "   WHEN 'both_slash' THEN concat('[^/', chr(92), chr(92), ']')"
    "   ELSE '[^/]' END, '*)'), 1)"
    " ELSE '' END",
    # parse_filename: the trailing component; trim_extension removes
    # the LAST .ext ('.hidden' → '', 'a.tar.gz' → 'a.tar')
    "CREATE OR REPLACE TEMPORARY FUNCTION parse_filename"
    "(p STRING, trim_ext BOOLEAN, sep STRING) RETURNS STRING RETURN"
    " CASE WHEN p IS NULL THEN NULL"
    " WHEN coalesce(trim_ext, false)"
    " THEN regexp_replace(regexp_extract(p, concat('(',"
    " CASE lower(sep)"
    "   WHEN 'backslash' THEN concat('[^', chr(92), chr(92), ']')"
    "   WHEN 'both_slash' THEN concat('[^/', chr(92), chr(92), ']')"
    "   ELSE '[^/]' END, '*)$'), 1),"
    " concat(chr(92), '.[^.]*$'), '')"
    " ELSE regexp_extract(p, concat('(', CASE lower(sep)"
    "   WHEN 'backslash' THEN concat('[^', chr(92), chr(92), ']')"
    "   WHEN 'both_slash' THEN concat('[^/', chr(92), chr(92), ']')"
    "   ELSE '[^/]' END, '*)$'), 1) END",
    # DuckDB date_diff counts PART BOUNDARIES CROSSED; truncating
    # both endpoints to the part first makes Spark's complete-interval
    # timestampdiff compute exactly that (the part is always a query
    # literal, so Catalyst folds the CASE to one branch at plan time).
    # Unknown parts (decade, century, era) raise loudly.
    "CREATE OR REPLACE TEMPORARY FUNCTION date_diff_boundary"
    "(p STRING, a TIMESTAMP, b TIMESTAMP) RETURNS BIGINT RETURN"
    " CASE lower(p)"
    " WHEN 'year' THEN timestampdiff(YEAR, date_trunc('YEAR', a), date_trunc('YEAR', b))"
    " WHEN 'years' THEN timestampdiff(YEAR, date_trunc('YEAR', a), date_trunc('YEAR', b))"
    " WHEN 'quarter' THEN timestampdiff(QUARTER, date_trunc('QUARTER', a), date_trunc('QUARTER', b))"
    " WHEN 'quarters' THEN timestampdiff(QUARTER, date_trunc('QUARTER', a), date_trunc('QUARTER', b))"
    " WHEN 'month' THEN timestampdiff(MONTH, date_trunc('MONTH', a), date_trunc('MONTH', b))"
    " WHEN 'months' THEN timestampdiff(MONTH, date_trunc('MONTH', a), date_trunc('MONTH', b))"
    " WHEN 'week' THEN timestampdiff(WEEK, date_trunc('WEEK', a), date_trunc('WEEK', b))"
    " WHEN 'weeks' THEN timestampdiff(WEEK, date_trunc('WEEK', a), date_trunc('WEEK', b))"
    " WHEN 'day' THEN timestampdiff(DAY, date_trunc('DAY', a), date_trunc('DAY', b))"
    " WHEN 'days' THEN timestampdiff(DAY, date_trunc('DAY', a), date_trunc('DAY', b))"
    " WHEN 'hour' THEN timestampdiff(HOUR, date_trunc('HOUR', a), date_trunc('HOUR', b))"
    " WHEN 'hours' THEN timestampdiff(HOUR, date_trunc('HOUR', a), date_trunc('HOUR', b))"
    " WHEN 'minute' THEN timestampdiff(MINUTE, date_trunc('MINUTE', a), date_trunc('MINUTE', b))"
    " WHEN 'minutes' THEN timestampdiff(MINUTE, date_trunc('MINUTE', a), date_trunc('MINUTE', b))"
    " WHEN 'second' THEN timestampdiff(SECOND, date_trunc('SECOND', a), date_trunc('SECOND', b))"
    " WHEN 'seconds' THEN timestampdiff(SECOND, date_trunc('SECOND', a), date_trunc('SECOND', b))"
    " WHEN 'millisecond' THEN timestampdiff(MILLISECOND, date_trunc('MILLISECOND', a), date_trunc('MILLISECOND', b))"
    " WHEN 'milliseconds' THEN timestampdiff(MILLISECOND, date_trunc('MILLISECOND', a), date_trunc('MILLISECOND', b))"
    " WHEN 'microsecond' THEN timestampdiff(MICROSECOND, a, b)"
    " WHEN 'microseconds' THEN timestampdiff(MICROSECOND, a, b)"
    " ELSE CAST(raise_error(concat('date_diff: unsupported part ', p)) AS BIGINT)"
    " END",
    # DuckDB's THREE-argument regexp_replace replaces only the FIRST
    # occurrence (Spark replaces all), bridged by the r13 pre-parse
    # pass to this function: locate the first match, rebuild the
    # string around it, and run the replacement (with its $N group
    # expansion) on the matched text alone.  The inner pattern is
    # anchored '^(?:p)$' so an empty-match pattern can't fire twice
    # inside the extracted match ('aab' ~ 'a*' extracts 'aa'; an
    # unanchored replaceAll would append the replacement again at the
    # trailing empty match — probed r13), and the non-capturing wrap
    # keeps the caller's group numbers intact.  Known blind edge
    # (documented in the module docstring): context assertions that
    # reach OUTSIDE the matched text (\B at a match edge) evaluate
    # against the extracted substring.  No backslash appears in the
    # body, so it parses identically under both escapedStringLiterals
    # settings (registration-order rule above).
    "CREATE OR REPLACE TEMPORARY FUNCTION regexp_replace_first"
    "(s STRING, p STRING, r STRING) RETURNS STRING RETURN"
    " CASE WHEN s IS NULL OR p IS NULL OR r IS NULL"
    " THEN CAST(NULL AS STRING)"
    " WHEN NOT regexp_like(s, p) THEN s"
    " ELSE concat("
    "   substring(s, 1, regexp_instr(s, p) - 1),"
    "   regexp_replace(regexp_extract(s, p, 0),"
    "                  concat(chr(92), 'A(?:', p, ')', chr(92), 'z'),"
    "                  r),"
    "   substring(s, regexp_instr(s, p)"
    "                + length(regexp_extract(s, p, 0))))"
    " END",
]


def escape_backslashes_for_spark(sql: str) -> str:
    """DuckDB literal semantics → Spark literal semantics, as TEXT
    (r12 probe wave — the largest silent-divergence class found to
    date): DuckDB does not process backslash escapes inside '…'
    ('\\d' is backslash-d; the ONLY escape is '' doubling), while
    stock Spark's parser eats the backslash ('\\d' parses as 'd'), so
    every regex character class in a saved query silently matched the
    wrong thing — probed: regexp_extract('a12', '\\d+', 0) = ''.
    Spark's escapedStringLiterals flag is NOT the fix: it restores
    literal backslashes but breaks '' doubling ('a''b' stops
    collapsing — probed), so no parser config gives both semantics.
    Doubling every backslash inside single-quoted literals does: the
    default parser collapses the pairs back and both paritys hold.
    Segmentation runs under DuckDB rules (_segments: doubling only,
    backslash ordinary), exactly how the incoming text means itself.
    Comments, double-quoted identifiers and code are untouched."""
    out = []
    for is_code, text in _segments(sql):
        if not is_code and text[:1] == "'":
            text = text.replace("\\", "\\\\")
        out.append(text)
    return "".join(out)


# ------------------------------------------------- pre-parse call bridges
#
# r13 (VERDICT r12 #1): the five both-valid-different-meaning forms the
# r11/r12 probe waves documented as fallback blind spots.  The fallback
# rewriter can never see them (stock Spark ACCEPTS the text, with the
# wrong meaning), so they are bridged HERE — an always-on pass at the
# same engine boundary (SparkDestination.prepare) as the r12 literal bridge,
# under the same contract: the engine's query surface speaks DuckDB.
# Like that bridge, this one deliberately changes the meaning of valid
# Spark text (trim('x', s), log(x)=ln, a ^ b as XOR — spell XOR as the
# xor() compat function); it is applied exactly once per statement
# (re-entrant internal calls use engine._query_df_prepared).

# ^@ is DuckDB starts_with; ** is DuckDB's power synonym (a parse
# error in Spark, but bridging it here keeps ONE operand scanner for
# both spellings)
_POWER_OP_RE = re.compile(r"\^(?!@)|\*\*")
_LONE_MASK_RE = re.compile(rf"^{_MASK}(\d+){_MASK}$")
_NUM_TOKEN_RE = re.compile(
    r"\d\w*(?:\.\d*)?(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?"
)


def _value_ends_before(masked: str, idx: int) -> bool:
    """True when the token ending just before ``idx`` closes a value
    expression (identifier that is not a clause keyword, number,
    ``)``/``]``, or a mask placeholder) — the unary-vs-binary test for
    a sign character at ``idx``."""
    j = idx - 1
    while j >= 0 and masked[j].isspace():
        j -= 1
    if j < 0:
        return False
    ch = masked[j]
    if ch in ")]" or ch == _MASK:
        return True
    if ch.isalnum() or ch == "_":
        k = j
        while k >= 0 and (masked[k].isalnum() or masked[k] == "_"):
            k -= 1
        return masked[k + 1 : j + 1].lower() not in _NONVALUE_WORDS
    return False


def _power_left_start(masked: str, op_idx: int) -> int | None:
    """Start of ``^``'s left operand.  DuckDB precedence, probed r13:
    left-associative, tighter than ``*``, LOOSER than unary minus
    (``-2 ^ 2`` = 4), so a genuinely-unary sign joins the operand."""
    j = op_idx - 1
    while j >= 0 and masked[j].isspace():
        j -= 1
    if j < 0:
        return None
    start = _expr_start(masked, j)
    if start is None or start > j:
        return None
    while True:
        # postfix :: cast binds tighter than ^ — extend over its base
        if start >= 2 and masked[start - 2 : start] == "::":
            prev = _expr_start(masked, start - 3)
            if prev is None or prev > start - 3:
                return None
            start = prev
            continue
        # scientific-notation literal (2.5e-3): _expr_start stops at
        # the exponent sign — extend through the mantissa
        if (
            start >= 3
            and masked[start - 1] in "+-"
            and masked[start - 2] in "eE"
            and masked[start - 3].isdigit()
        ):
            prev = _expr_start(masked, start - 2)
            if prev is None or prev > start - 2:
                return None
            start = prev
            continue
        break
    while True:  # unary sign chain (- -2 ^ 2)
        j2 = start - 1
        while j2 >= 0 and masked[j2].isspace():
            j2 -= 1
        if j2 >= 0 and masked[j2] in "+-" and not _value_ends_before(
            masked, j2
        ):
            start = j2
            continue
        return start


def _power_right_end(masked: str, pos: int) -> int | None:
    """End (exclusive) of ``^``'s right operand: optional unary signs,
    one primary (number / placeholder / identifier chain / call /
    parenthesized expression), then tighter-binding postfixes
    (subscripts, ``::`` casts)."""
    n = len(masked)
    i = pos
    while i < n and masked[i].isspace():
        i += 1
    while i < n and masked[i] in "+-":
        i += 1
        while i < n and masked[i].isspace():
            i += 1
    if i >= n:
        return None
    ch = masked[i]
    if ch == "(":
        i = _match_paren(masked, i)
        if i == -1:
            return None
    elif ch == _MASK:
        i = masked.index(_MASK, i + 1) + 1
    elif ch.isdigit() or (
        ch == "." and i + 1 < n and masked[i + 1].isdigit()
    ):
        i = _NUM_TOKEN_RE.match(masked, i).end()
    elif ch.isalpha() or ch == "_":
        word_start = i
        while i < n and (masked[i].isalnum() or masked[i] in "._"):
            i += 1
        if masked[word_start:i].lower() in ("case", "interval"):
            return None  # structured primary — refuse, don't truncate
        j = i
        while j < n and masked[j].isspace():
            j += 1
        if j < n and masked[j] == "(":
            i = _match_paren(masked, j)
            if i == -1:
                return None
    else:
        return None
    while True:
        j = i
        while j < n and masked[j].isspace():
            j += 1
        if j < n and masked[j] == "[":
            depth, k = 0, j
            while k < n:
                if masked[k] == "[":
                    depth += 1
                elif masked[k] == "]":
                    depth -= 1
                    if depth == 0:
                        break
                k += 1
            if k >= n:
                return None
            i = k + 1
        elif masked[j : j + 2] == "::":
            k = j + 2
            while k < n and masked[k].isspace():
                k += 1
            while k < n and (masked[k].isalnum() or masked[k] == "_"):
                k += 1
            i = k
        else:
            return i


def _bridge_power(masked: str) -> str:
    """``a ^ b`` → ``power(a, b)`` — DuckDB's ``^`` is power where
    Spark's is bitwise XOR (spell XOR as the ``xor()`` compat
    function).  Leftmost-first restart keeps DuckDB's left
    associativity: ``4 ^ 3 ^ 2`` → ``power(power(4, 3), 2)``."""
    while True:
        m = _POWER_OP_RE.search(masked)
        if m is None:
            return masked
        ls = _power_left_start(masked, m.start())
        rend = _power_right_end(masked, m.end())
        if ls is None or rend is None:
            ctx = masked[max(0, m.start() - 24) : m.end() + 24]
            raise DialectError(
                f"a ^ b (DuckDB power) could not be bridged near"
                f" {ctx!r}: spell it power(a, b) — identical on both"
                " engines"
            )
        left = masked[ls : m.start()].strip()
        right = masked[m.end() : rend].strip()
        masked = masked[:ls] + f"power({left}, {right})" + masked[rend:]


def _rewrite_calls(masked: str, fname: str, fix) -> str:
    """Apply ``fix(args) -> str | None`` to every ``fname(...)`` call
    (balanced-paren extraction, depth-0 comma split); ``None`` leaves
    the call untouched.  After a rewrite the scan resumes just past
    the replacement's function name, so a same-named replacement is
    not re-fixed but calls nested in its arguments still are."""
    pat = re.compile(rf"\b{fname}\s*\(", re.I)
    pos = 0
    while True:
        m = pat.search(masked, pos)
        if m is None:
            return masked
        open_idx = masked.index("(", m.end() - 1)
        close = _match_paren(masked, open_idx)
        if close == -1:
            pos = m.end()
            continue
        args = _split_d0_commas(masked[open_idx + 1 : close - 1])
        repl = fix(args)
        if repl is None:
            pos = m.end()
            continue
        masked = masked[: m.start()] + repl + masked[close:]
        pos = m.start() + len(repl.split("(", 1)[0]) + 1


def _fix_two_arg_trim(kind: str):
    """DuckDB's 2-argument trim family is (string, trim_chars) where
    Spark's is (trim_chars, string) — both valid, arguments silently
    swapped (r12 probe).  The keyword form trim(BOTH c FROM s) means
    the same on both engines, so it is the bridge target."""

    def fix(args: list[str]):
        if len(args) != 2:
            return None
        return f"trim({kind} {args[1]} FROM {args[0]})"

    return fix


def _new_lit_mask(literals: list[str], content: str) -> str:
    literals.append("'" + content + "'")
    return f"{_MASK}{len(literals) - 1}{_MASK}"


def _pattern_mask(args: list[str], literals: list[str]) -> str | None:
    """args[1] (the pattern argument) RE2→Java translated as a fresh
    literal mask, or None when the pattern is not a literal (the
    documented blind edge: column-valued patterns run with Java
    semantics)."""
    lit = _literal_of(args[1], literals)
    if lit is None:
        return None
    return _new_lit_mask(literals, re2_pattern_to_java(lit[1:-1]))


def _mask_name_list(arg: str, literals: list[str]) -> list[str] | None:
    """``['name1', 'name2']`` as a list of the name literals' masks —
    DuckDB's named-groups form of regexp_extract."""
    inner = arg.strip()
    if not (inner.startswith("[") and inner.endswith("]")):
        return None
    items = [p.strip() for p in inner[1:-1].split(",")]
    if not items or any(_literal_of(it, literals) is None for it in items):
        return None
    return items


def _fix_regexp_extract(name: str, literals: list[str]):
    """DuckDB's regexp_extract[_all] shapes, all with RE2→Java
    pattern translation: 2-arg (the default group is 0 — the full
    match — in DuckDB and 1 in Spark: appended explicitly), 3-arg
    with a group index, regexp_extract's 3-arg NAME-LIST form
    (returns a STRUCT of the named capture groups, keyed in list
    order — probed r13), and 4-arg with an options string folded into
    the pattern."""

    def fix(args: list[str]):
        if len(args) == 4:
            opts_lit = _literal_of(args[3], literals)
            if opts_lit is None:
                return None  # not a DuckDB options shape — loud later
            plit = _literal_of(args[1], literals)
            if plit is None:
                raise DialectError(
                    f"{name} with an options argument needs a literal"
                    " pattern to fold the flags into: inline (?i)/"
                    "(?s) in the pattern expression instead"
                )
            folded, _ = _fold_regexp_options(plit[1:-1], opts_lit[1:-1])
            return (
                f"{name}({args[0]}, {_new_lit_mask(literals, folded)},"
                f" {args[2]})"
            )
        if (
            len(args) == 3
            and name == "regexp_extract"
            and args[2].strip().startswith("[")
        ):
            names = _mask_name_list(args[2], literals)
            if names is None:
                return None
            pat = _pattern_mask(args, literals) or args[1].strip()
            fields = ", ".join(
                f"{nm}, regexp\x01_extract({args[0]}, {pat}, {idx})"
                for idx, nm in enumerate(names, start=1)
            )
            return f"named_struct({fields})"
        if len(args) == 3:
            pat = _pattern_mask(args, literals)
            if pat is None:
                return None
            return f"{name}({args[0]}, {pat}, {args[2]})"
        if len(args) == 2:
            pat = _pattern_mask(args, literals) or args[1].strip()
            return f"{name}({args[0]}, {pat}, 0)"
        return None

    return fix


def _fix_regexp_matches(name: str, literals: list[str]):
    """regexp_matches / regexp_full_match: RE2→Java pattern
    translation, and the optional OPTIONS argument folded into the
    pattern (both are 2-arg compat functions on the Spark side)."""

    def fix(args: list[str]):
        if len(args) == 3:
            opts_lit = _literal_of(args[2], literals)
            if opts_lit is None:
                return None
            plit = _literal_of(args[1], literals)
            if plit is None:
                raise DialectError(
                    f"{name} with an options argument needs a literal"
                    " pattern to fold the flags into: inline (?i)/"
                    "(?s) in the pattern expression instead"
                )
            folded, _ = _fold_regexp_options(plit[1:-1], opts_lit[1:-1])
            return f"{name}({args[0]}, {_new_lit_mask(literals, folded)})"
        if len(args) == 2:
            pat = _pattern_mask(args, literals)
            if pat is None:
                return None
            return f"{name}({args[0]}, {pat})"
        return None

    return fix


def _empty_pattern_split(s: str) -> str:
    """``split(s, '')`` with DuckDB semantics: Java's split takes the
    zero-width match AT THE END too (probed r13: Spark
    split('abc','') = [a,b,c,''] where DuckDB drops the end match →
    [a,b,c]; '' → ['']).  Only the EMPTY literal pattern is bridged —
    a non-empty zero-width-capable pattern (``x*``) keeps Java's
    trailing-empty behavior, a documented blind edge."""
    return (
        f"(CASE WHEN ({s}) IS NULL THEN CAST(NULL AS ARRAY<STRING>)"
        f" WHEN length({s}) = 0 THEN array('')"
        f" ELSE slice(split(({s}), ''), 1, length({s})) END)"
    )


def _fix_split_regex(literals: list[str]):
    """str_split_regex / regexp_split_to_array → Spark's split()
    (itself regex-based), with the pattern RE2→Java translated and
    any options folded in."""

    def fix(args: list[str]):
        if len(args) in (2, 3):
            plit = _literal_of(args[1], literals)
            if plit is not None and plit == "''":
                return _empty_pattern_split(args[0])
        if len(args) == 3:
            opts_lit = _literal_of(args[2], literals)
            if opts_lit is None:
                return None
            plit = _literal_of(args[1], literals)
            if plit is None:
                raise DialectError(
                    "str_split_regex with an options argument needs a"
                    " literal pattern to fold the flags into: inline"
                    " (?i)/(?s) in the pattern expression instead"
                )
            folded, _ = _fold_regexp_options(plit[1:-1], opts_lit[1:-1])
            return f"split({args[0]}, {_new_lit_mask(literals, folded)})"
        if len(args) == 2:
            pat = _pattern_mask(args, literals) or args[1].strip()
            return f"split({args[0]}, {pat})"
        return None

    return fix


def _int_literal_of(arg: str) -> int | None:
    """The argument's integer value when it is a bare (optionally
    signed) integer token in masked text, else None."""
    m = re.match(r"^-?\d+$", arg.strip())
    return int(m.group(0)) if m else None


def _fix_concat(literals: list[str]):
    """DuckDB's concat() casts every argument to VARCHAR and SKIPS
    NULLs (concat('a', NULL, 'b') = 'ab', concat(NULL) = '') where
    Spark's propagates NULL — a silent wrong value (r13 probe).
    Bridged by coalescing each argument's string cast."""

    def fix(args: list[str]):
        if not args:
            return None
        parts = ", ".join(
            f"coalesce(CAST(({a}) AS STRING), '')" for a in args
        )
        return f"concat({parts})"

    return fix


def _fix_left_right(name: str):
    """DuckDB's left/right with a NEGATIVE count drops |n| characters
    from the other end (left('abcdef', -2) = 'abcd') where Spark
    returns '' — a silent wrong value (r13 probe).  A provably
    non-negative literal count passes through untouched."""

    def fix(args: list[str]):
        if len(args) != 2:
            return None
        n = _int_literal_of(args[1])
        if n is not None and n >= 0:
            return None
        s, cnt = args[0], args[1]
        return (
            f"{name}(({s}), (CASE WHEN ({cnt}) < 0 THEN"
            f" greatest(length(({s})) + ({cnt}), 0)"
            f" ELSE ({cnt}) END))"
        )

    return fix


def _fix_substring(name: str):
    """DuckDB's 3-argument substring follows the window model
    [start, start+len) with 1-based positions, a start of 0 or less
    shrinking the window (substring('abcdef', 0, 3) = 'ab'), a
    NEGATIVE start counting from the end (-1 = the last character),
    and a NEGATIVE length selecting BACKWARD from start — where
    Spark's start 0 means 1 and negative start means
    from-the-end-with-full-length (probed r13: 'abc' vs 'ab', 'f' vs
    'cdef'…).  Provably start >= 1 and len >= 0 literals pass
    through (the semantics agree there).  The keyword form
    (substring(s FROM a FOR b)) arrives as one argument and keeps
    Spark's meaning — a documented blind edge."""

    def fix(args: list[str]):
        if len(args) != 3:
            if len(args) == 2:
                st = _int_literal_of(args[1])
                if st is not None and st >= 1:
                    return None
                s, start = args[0], args[1]
                # 2-arg: negative start counts from the end, 0 -> 1
                return (
                    f"{name}(({s}), (CASE WHEN ({start}) < 0 THEN"
                    f" greatest(length(({s})) + ({start}) + 1, 1)"
                    f" ELSE greatest(({start}), 1) END))"
                )
            return None
        st, ln = _int_literal_of(args[1]), _int_literal_of(args[2])
        if st is not None and ln is not None and st >= 1 and ln >= 0:
            return None
        s, start, length = args[0], args[1], args[2]
        # normalized start (negative -> from end), then the window
        # [least(st', st'+len), greatest(st', st'+len)) clipped to
        # positions >= 1
        stn = (
            f"(CASE WHEN ({start}) < 0 THEN"
            f" length(({s})) + ({start}) + 1 ELSE ({start}) END)"
        )
        lo = f"least({stn}, {stn} + ({length}))"
        hi = f"greatest({stn}, {stn} + ({length}))"
        return (
            f"{name}(({s}), greatest({lo}, 1),"
            f" greatest({hi} - greatest({lo}, 1), 0))"
        )

    return fix


def _fix_list_slice(literals: list[str]):
    """DuckDB's list_slice/array_slice(l, begin, end): 1-based,
    BOTH-INCLUSIVE, negative indexes count from the end (-1 = last),
    out-of-range clamps, begin > end → [] — Spark's slice(l, start,
    length) spelled exactly (r13 probes).  The 4-argument STEP form
    refuses loudly.  A STRING first argument (DuckDB slices strings
    too) fails loudly on Spark's array-typed slice — use substring/
    left/right for strings."""

    def fix(args: list[str]):
        if len(args) == 4:
            raise DialectError(
                "list_slice with a STEP argument is not bridged:"
                " filter(l, …) on element positions or transform("
                "sequence(...), i -> l[i]) express stepped selection"
            )
        if len(args) != 3:
            return None
        lst, b, e = args[0], args[1], args[2]
        bn = (
            f"greatest(CASE WHEN ({b}) < 0 THEN"
            f" size(({lst})) + ({b}) + 1 ELSE ({b}) END, 1)"
        )
        en = (
            f"least(CASE WHEN ({e}) < 0 THEN"
            f" size(({lst})) + ({e}) + 1 ELSE ({e}) END,"
            f" size(({lst})))"
        )
        return (
            f"slice(({lst}), {bn}, greatest({en} - {bn} + 1, 0))"
        )

    return fix


def _fix_string_agg_default(name: str):
    """1-argument string_agg/listagg/group_concat: DuckDB's default
    separator is ',' where Spark's listagg/string_agg concatenates
    with NOTHING — a silent wrong value (r13 probe: 'a,a,b,b' vs
    'aabb').  The separator is made explicit; an in-argument ORDER BY
    tail keeps its position (that shape fails the stock parse and
    reaches the fallback's WITHIN-GROUP rewrite as the 2-argument
    form); DISTINCT prefixes ride along untouched."""

    def fix(args: list[str]):
        if len(args) != 1:
            return None
        arg = args[0]
        obs = list(_d0_matches(arg, r"\bORDER\s+BY\b"))
        if obs:
            head = arg[: obs[0].start()].rstrip()
            tail = arg[obs[0].start() :]
            return f"{name}({head}, ',' {tail})"
        return f"{name}({arg}, ',')"

    return fix


def _bridge_match_regex_ops(masked: str, literals: list[str]) -> str:
    """``expr ~ '<literal>'`` / ``expr !~ '<literal>'`` at the
    PRE-PARSE boundary: DuckDB's ``~`` is a FULL match of an RE2
    pattern, so the literal is RE2→Java translated, anchored
    ``\\A(?:…)\\z`` (``\\z``, not ``$``: Java's ``$`` also matches
    before a trailing newline — probed r13), and rides RLIKE.
    Non-literal patterns fall through to the fallback rewriter's
    loud refusal; the LIKE-family operators (``~~`` etc.) are
    excluded by lookarounds and stay fallback-bridged."""
    for op_re, keyword in (
        (r"!~(?![~*])", " NOT RLIKE "),
        (r"(?<![!~])~(?![~*])", " RLIKE "),
    ):
        pattern = re.compile(
            _MATCH_TOK + r"\s*" + op_re + rf"\s*{_MASK}(\d+){_MASK}"
        )

        def repl(m):
            if m.group(1).lower() in _NONVALUE_WORDS:
                return m.group(0)
            lit = literals[int(m.group(2))]
            if lit[:1] != "'":
                return m.group(0)
            translated = re2_pattern_to_java(lit[1:-1])
            mask = _new_lit_mask(
                literals, "\\A(?:" + translated + ")\\z"
            )
            return f"{m.group(1)}{keyword}{mask}"

        masked = pattern.sub(repl, masked)
    return masked


def _fix_log10(args: list[str]):
    """1-argument log() is log10 in DuckDB, ln in Spark; the 2-argument
    (base, x) form agrees on both engines and passes through."""
    if len(args) != 1:
        return None
    return f"log10({args[0]})"


def _fix_monthname(args: list[str]):
    """DuckDB month/day names are FULL names; Spark's are 3-letter
    abbreviations — both valid, silently different values (documented
    since r11, bridged r13)."""
    if len(args) != 1:
        return None
    return f"date_format({args[0]}, 'MMMM')"


def _fix_dayname(args: list[str]):
    if len(args) != 1:
        return None
    return f"date_format({args[0]}, 'EEEE')"


_BIG_TRUNC_PARTS = {"decade": 10, "decades": 10, "century": 100,
                    "centuries": 100, "millennium": 1000,
                    "millenniums": 1000, "millennia": 1000}


def _fix_date_trunc(literals: list[str]):
    """date_trunc('decade'|'century'|'millennium', x): Spark returns
    NULL SILENTLY for parts it doesn't know (r13 probe) where DuckDB
    floors the year to the multiple (2024 → 2020/2000/2000, probed)
    and returns a DATE."""

    def fix(args: list[str]):
        if len(args) != 2:
            return None
        lit = _literal_of(args[0], literals)
        if lit is None:
            return None
        div = _BIG_TRUNC_PARTS.get(lit[1:-1].lower())
        if div is None:
            return None  # a part Spark knows — native semantics
        x = args[1]
        return (
            f"make_date(CAST(floor(year({x}) / {div}) * {div} AS INT),"
            f" 1, 1)"
        )

    return fix


def _fix_skewness(args: list[str]):
    """DuckDB's skewness is the SAMPLE (bias-corrected) statistic
    where Spark's is the population one — a silent wrong value
    (probed r13: -1.414214 vs -0.816497 on the same four rows).
    G1 = g1 * sqrt(n(n-1)) / (n-2); try_divide makes n <= 2 NULL,
    matching DuckDB.  The \\x01 sentinel keeps the emitted inner call
    out of this pass's own rescan."""
    if len(args) != 1:
        return None
    x = args[0]
    return (
        f"try_divide(skew\x01ness({x})"
        f" * sqrt(count({x}) * (count({x}) - 1.0)),"
        f" count({x}) - 2.0)"
    )


def _fix_kurtosis(args: list[str]):
    """DuckDB's kurtosis is the SAMPLE excess statistic where Spark's
    is the population one (probed r13: 1.5 vs -1.0).
    G2 = (n-1) * ((n+1) g2 + 6) / ((n-2)(n-3)); n <= 3 → NULL."""
    if len(args) != 1:
        return None
    x = args[0]
    return (
        f"try_divide((count({x}) - 1.0)"
        f" * ((count({x}) + 1.0) * kurt\x01osis({x}) + 6.0),"
        f" (count({x}) - 2.0) * (count({x}) - 3.0))"
    )


def _literal_of(arg: str, literals: list[str]) -> str | None:
    m = _LONE_MASK_RE.match(arg.strip())
    if m is None:
        return None
    lit = literals[int(m.group(1))]
    return lit if lit[:1] == "'" else None


# --- RE2 PATTERN dialect (r13): DuckDB compiles patterns with RE2,
# Spark with java.util.regex.  The pattern text is DATA (a literal
# argument), so no text-shape rewrite can see it — the divergences
# are silent wrong VALUES: POSIX bracket classes ([[:digit:]] matches
# 'd','i','g','t',':' in Java), `$` (Java matches before a trailing
# newline, RE2 only at end of text), octal escapes (\101 is a
# BACKREFERENCE spelling in Java), and `.`/line-terminator sets (Java
# excludes \r and U+0085/U+2028/U+2029, RE2 only \n).  LITERAL
# patterns of the regexp family are translated by
# :func:`re2_pattern_to_java` at the pre-parse bridge; non-literal
# (column-valued) patterns are a documented blind edge — they execute
# with Java semantics.

_POSIX_CLASSES = {
    "alnum": r"\p{Alnum}", "alpha": r"\p{Alpha}", "ascii": r"\p{ASCII}",
    "blank": r"\p{Blank}", "cntrl": r"\p{Cntrl}", "digit": r"\p{Digit}",
    "graph": r"\p{Graph}", "lower": r"\p{Lower}", "print": r"\p{Print}",
    "punct": r"\p{Punct}", "space": r"\p{Space}", "upper": r"\p{Upper}",
    "word": r"\w", "xdigit": r"\p{XDigit}",
}
_POSIX_NEGATED = {
    name: (r"\W" if cls == r"\w" else "\\P" + cls[2:])
    for name, cls in _POSIX_CLASSES.items()
}
# an inline flag group that turns on multiline — if present, `$` is
# left alone ((?d) below makes Java's (?m) line set match RE2's)
_RE2_MULTILINE_RE = re.compile(r"\(\?[a-zA-Z-]*m[a-zA-Z-]*[:)]")
_INLINE_FLAGS_RE = re.compile(r"\(\?([a-zA-Z-]+)([:)])")
_JAVA_QUANT_RE = re.compile(r"\{\d+(,\d*)?\}")


def re2_pattern_to_java(pat: str) -> str:
    """An RE2 pattern (DuckDB's regex dialect) → the java.util.regex
    pattern with the same meaning.  Every translation was probed on
    both engines (r13):

    * ``(?d)`` is prepended — Java's UNIX_LINES flag shrinks its
      line-terminator set to ``\\n``, matching RE2's, so ``.``
      excludes exactly ``\\n`` and ``(?m)`` anchors see the same
      lines.
    * ``[:name:]`` POSIX classes (valid only inside ``[...]`` in RE2;
      Java parses them as a nested class of the NAME'S CHARACTERS —
      silently wrong) → ``\\p{Name}`` / ``\\P{Name}`` equivalents.
    * literal ``[`` and ``&`` inside a class are escaped (Java nests
      classes / intersects on ``&&`` where RE2 reads literals).
    * unescaped ``$`` outside a class → ``\\z`` (RE2's ``$`` is END
      OF TEXT; Java's matches before a trailing newline too) — unless
      an inline ``(?m)`` makes the pattern line-anchored.
    * ``\\NNN`` octal escapes → ``\\0NNN`` (Java reads ``\\1`` as a
      backreference; RE2 has none).  ``\\8``/``\\9`` are invalid RE2
      — DuckDB errors — and refuse loudly here too.
    * ``(?P<name>…)`` (RE2's only named-group spelling) →
      ``(?<name>…)``.
    * ``{`` that does not open a valid repetition (``{,3}``, ``a{``)
      is LITERAL in RE2 where Java raises — escaped to ``\\{``.
    * an inline ``U`` flag refuses loudly: RE2's ``U`` swaps greedy
      and lazy quantifiers, Java's switches Unicode character
      classes — both valid, silently different.
    * ``\\Q…\\E`` quoted sections copy verbatim (same on both).

    Documented blind edges: ``\\p{Script}`` names beyond Java's table
    (Java spells scripts ``\\p{IsGreek}``), and Java-only escapes RE2
    rejects (``\\Z``) pass through (DuckDB would have errored — the
    engine is more permissive, never silently different)."""
    out: list[str] = ["(?d)"]
    i, n = 0, len(pat)
    in_class = False
    multiline = _RE2_MULTILINE_RE.search(pat) is not None
    while i < n:
        ch = pat[i]
        if ch == "\\":
            nxt = pat[i + 1] if i + 1 < n else ""
            if nxt == "Q":
                end = pat.find(r"\E", i + 2)
                if end == -1:
                    out.append(pat[i:])
                    i = n
                else:
                    out.append(pat[i : end + 2])
                    i = end + 2
                continue
            if nxt.isdigit():
                if nxt in "89":
                    raise DialectError(
                        f"regex pattern {pat!r}: '\\{nxt}' is not a"
                        " valid RE2 escape (DuckDB rejects it; Java"
                        " would read a backreference — silently"
                        " different)"
                    )
                j = i + 1
                while j < n and j - i <= 3 and pat[j] in "01234567":
                    j += 1
                out.append("\\0" + pat[i + 1 : j])
                i = j
                continue
            out.append(pat[i : i + 2] if nxt else "\\")
            i += 2 if nxt else 1
            continue
        if in_class:
            if ch == "[" and pat[i : i + 2] == "[:":
                close = pat.find(":]", i + 2)
                if close == -1:
                    raise DialectError(
                        f"regex pattern {pat!r}: unterminated POSIX"
                        " class (DuckDB rejects it)"
                    )
                name = pat[i + 2 : close]
                neg = name.startswith("^")
                table = _POSIX_NEGATED if neg else _POSIX_CLASSES
                repl = table.get((name[1:] if neg else name).lower())
                if repl is None:
                    raise DialectError(
                        f"regex pattern {pat!r}: unknown POSIX class"
                        f" [:{name}:] (DuckDB rejects it)"
                    )
                out.append(repl)
                i = close + 2
            elif ch == "[":
                out.append(r"\[")  # literal in RE2, nests in Java
                i += 1
            elif ch == "&":
                out.append(r"\&")  # literal in RE2, && intersects
                i += 1
            else:
                if ch == "]":
                    in_class = False
                out.append(ch)
                i += 1
            continue
        if ch == "[":
            in_class = True
            out.append("[")
            i += 1
            if i < n and pat[i] == "^":
                out.append("^")
                i += 1
            continue
        if ch == "$" and not multiline:
            out.append(r"\z")
            i += 1
            continue
        if ch == "{":
            m = _JAVA_QUANT_RE.match(pat, i)
            if m is not None:
                out.append(m.group(0))
                i = m.end()
            else:
                out.append(r"\{")
                i += 1
            continue
        if ch == "(" and pat[i : i + 4] == "(?P<":
            out.append("(?<")
            i += 4
            continue
        if ch == "(" and pat[i : i + 2] == "(?":
            m = _INLINE_FLAGS_RE.match(pat, i)
            if m is not None:
                if "U" in m.group(1):
                    raise DialectError(
                        f"regex pattern {pat!r}: the (?U) flag is RE2"
                        " ungreedy-swap but Java Unicode classes —"
                        " rewrite the pattern with explicit lazy"
                        " quantifiers"
                    )
                out.append(m.group(0))
                i = m.end()
            else:
                out.append("(?")
                i += 2
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def _fold_regexp_options(
    pat_content: str, opts: str, *, replace: bool = False
) -> tuple[str, bool]:
    """DuckDB's regexp OPTIONS argument → the same semantics folded
    into the (Java-translated) pattern as inline flags.  Probed r13:
    ``i``/``c`` toggle case sensitivity (last wins), ``s`` makes
    ``.`` match newline (RE2 non-newline-sensitive), ``m``/``n``/
    ``p`` are the DEFAULT newline-sensitive mode (no-ops — they do
    NOT make ``^``/``$`` line anchors in DuckDB), ``l`` matches the
    pattern as a literal string, ``g`` replaces globally (valid for
    regexp_replace only).  Returns (pattern_content, global)."""
    case_insensitive = dotall = literal = glob = False
    for ch in opts:
        if ch == "i":
            case_insensitive = True
        elif ch == "c":
            case_insensitive = False
        elif ch == "s":
            dotall = True
        elif ch in "mnp":
            dotall = False
        elif ch == "l":
            literal = True
        elif ch == "g":
            if not replace:
                raise DialectError(
                    "the 'g' regexp option is only valid for"
                    " regexp_replace (DuckDB rejects it elsewhere)"
                )
            glob = True
        elif ch == " ":
            continue
        else:
            raise DialectError(
                f"unknown regexp option {ch!r} (DuckDB accepts"
                " c/i/l/m/n/p/s and g for regexp_replace)"
            )
    if literal:
        if r"\E" in pat_content:
            raise DialectError(
                "the 'l' (literal) regexp option with a pattern"
                r" containing \E cannot be bridged (Java's \Q..\E"
                " quoting ends there): escape the metacharacters"
                " explicitly"
            )
        folded = "\\Q" + pat_content + "\\E"
    else:
        folded = re2_pattern_to_java(pat_content)
    if dotall:
        folded = "(?s)" + folded
    if case_insensitive:
        folded = "(?i)" + folded
    return folded, glob


def _re2_rewrite_to_java(content: str) -> str:
    """DuckDB (RE2) replacement-string syntax → Java replaceAll
    syntax: ``\\N`` group references become ``$N``, ``\\\\`` keeps its
    spelling (literal backslash on both), literal ``$`` is escaped
    (Java would read it as a dangling group reference).  Any other
    backslash escape is invalid RE2 — DuckDB silently turns the WHOLE
    replace into a no-op (probed r13) — and refuses loudly instead."""
    out: list[str] = []
    i, n = 0, len(content)
    while i < n:
        ch = content[i]
        if ch == "\\":
            nxt = content[i + 1] if i + 1 < n else ""
            if nxt.isdigit():
                out.append("$" + nxt)
            elif nxt == "\\":
                out.append("\\\\")
            else:
                raise DialectError(
                    f"regexp_replace replacement {content!r} contains"
                    f" the invalid RE2 escape '\\{nxt}' (DuckDB would"
                    " silently skip the whole replacement): use \\0-\\9"
                    " for group references or \\\\ for a literal"
                    " backslash"
                )
            i += 2
        elif ch == "$":
            out.append("\\$")
            i += 1
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _first_occurrence_replace(s: str, p: str, r: str) -> str:
    """The regexp_replace_first compat function's body, inlined as
    text: locate the first match, rebuild the string around it, run
    the replacement (with $N expansion) on the matched text alone
    under an anchored non-capturing wrap (see the COMPAT_FUNCTIONS
    entry for the probed corner cases).  Inlined rather than called
    because Spark cannot evaluate SQL UDFs inside inline VALUES
    tables (INVALID_INLINE_TABLE — r13 DML-drive catch), and builtins
    constant-fold where the UDF call could not."""
    return (
        f"(CASE WHEN ({s}) IS NULL OR ({p}) IS NULL OR ({r}) IS NULL"
        f" THEN CAST(NULL AS STRING)"
        f" WHEN NOT regexp_like(({s}), ({p})) THEN ({s})"
        f" ELSE concat("
        f"substring(({s}), 1, regexp_instr(({s}), ({p})) - 1),"
        # \x01 makes the template's own (deliberately all-occurrence,
        # anchored) inner call invisible to the regexp_replace scan —
        # without it the rescan would re-wrap the template forever;
        # bridge_call_semantics strips the sentinel after the pass.
        # \A..\z anchors, not ^..$: Java's $ also matches before a
        # trailing newline, so a match ending in \n could re-match a
        # shorter prefix here (r13 regex-dialect wave)
        f" regexp\x01_replace(regexp_extract(({s}), ({p}), 0),"
        f" concat('\\A(?:', ({p}), ')\\z'), ({r})),"
        f" substring(({s}), regexp_instr(({s}), ({p}))"
        f" + length(regexp_extract(({s}), ({p}), 0)))) END)"
    )


def _fix_regexp_replace(literals: list[str]):
    """3-argument regexp_replace replaces the FIRST occurrence in
    DuckDB and ALL in Spark → the inlined first-occurrence expression
    (:func:`_first_occurrence_replace`; the ``regexp_replace_first``
    compat function stays registered as the callable spelling).
    A LITERAL pattern is RE2→Java translated; a LITERAL replacement
    moves from RE2 rewrite syntax (\\1 group refs, $ literal) to
    Java's ($1 refs, \\$ literal).  The 4-argument options form folds
    its flags into a literal pattern; 'g' selects Spark's native
    all-occurrence replace (sentineled against this pass's own
    rescan).  A 4-argument call whose last argument is NOT a string
    literal is left whole (not a DuckDB options shape)."""

    def fix(args: list[str]):
        if len(args) not in (3, 4):
            return None
        glob = False
        pat = args[1]
        if len(args) == 4:
            opts_lit = _literal_of(args[3], literals)
            if opts_lit is None:
                return None
            opts = opts_lit[1:-1]
            plit = _literal_of(args[1], literals)
            if plit is None:
                # flag folding needs a literal pattern; a bare 'g'
                # (with the m/n/p/c no-ops) doesn't touch the pattern
                if set(opts) - set("gmnpc "):
                    raise DialectError(
                        "regexp_replace with a flags option needs a"
                        " literal pattern to fold the flags into:"
                        " inline (?i)/(?s) in the pattern expression"
                        " instead"
                    )
                glob = "g" in opts
            else:
                folded, glob = _fold_regexp_options(
                    plit[1:-1], opts, replace=True
                )
                pat = _new_lit_mask(literals, folded)
        else:
            translated = _pattern_mask(args, literals)
            if translated is not None:
                pat = translated
        rep = args[2]
        lit = _literal_of(rep, literals)
        if lit is not None:
            bridged = _re2_rewrite_to_java(lit[1:-1])
            if bridged != lit[1:-1]:
                rep = _new_lit_mask(literals, bridged)
        if glob:
            return f"regexp\x01_replace({args[0]}, {pat}, {rep})"
        return _first_occurrence_replace(args[0], pat, rep)

    return fix


def bridge_call_semantics(sql: str) -> str:
    """The r13 pre-parse semantic bridge: forms that are VALID in both
    dialects with DIFFERENT meanings execute with DuckDB's meaning.
    Runs on masked text (literals, quoted identifiers and comments are
    never touched, except a regexp_replace replacement literal moving
    to Java rewrite syntax).  Applied exactly once per statement, via
    :func:`prepare_query_text`."""
    masked, literals = _mask_literals(sql)
    masked = _bridge_power(masked)
    masked = _rewrite_calls(masked, "trim", _fix_two_arg_trim("BOTH"))
    masked = _rewrite_calls(masked, "ltrim", _fix_two_arg_trim("LEADING"))
    masked = _rewrite_calls(
        masked, "rtrim", _fix_two_arg_trim("TRAILING")
    )
    masked = _rewrite_calls(
        masked,
        "regexp_extract_all",
        _fix_regexp_extract("regexp_extract_all", literals),
    )
    masked = _rewrite_calls(
        masked,
        "regexp_extract",
        _fix_regexp_extract("regexp_extract", literals),
    )
    masked = _rewrite_calls(
        masked,
        "regexp_matches",
        _fix_regexp_matches("regexp_matches", literals),
    )
    masked = _rewrite_calls(
        masked,
        "regexp_full_match",
        _fix_regexp_matches("regexp_full_match", literals),
    )
    masked = _rewrite_calls(
        masked, "str_split_regex", _fix_split_regex(literals)
    )
    masked = _rewrite_calls(
        masked, "regexp_split_to_array", _fix_split_regex(literals)
    )
    masked = _bridge_match_regex_ops(masked, literals)
    masked = _rewrite_calls(masked, "concat", _fix_concat(literals))
    masked = _rewrite_calls(masked, "left", _fix_left_right("left"))
    masked = _rewrite_calls(masked, "right", _fix_left_right("right"))
    masked = _rewrite_calls(
        masked, "substring", _fix_substring("substring")
    )
    masked = _rewrite_calls(masked, "substr", _fix_substring("substr"))
    masked = _rewrite_calls(
        masked, "list_slice", _fix_list_slice(literals)
    )
    masked = _rewrite_calls(
        masked, "array_slice", _fix_list_slice(literals)
    )
    masked = _rewrite_calls(
        masked, "string_agg", _fix_string_agg_default("string_agg")
    )
    masked = _rewrite_calls(
        masked, "listagg", _fix_string_agg_default("listagg")
    )
    masked = _rewrite_calls(
        masked, "group_concat", _fix_string_agg_default("group_concat")
    )
    masked = _rewrite_calls(masked, "log", _fix_log10)
    masked = _rewrite_calls(masked, "skewness", _fix_skewness)
    masked = _rewrite_calls(masked, "kurtosis", _fix_kurtosis)
    masked = _rewrite_calls(masked, "monthname", _fix_monthname)
    masked = _rewrite_calls(masked, "dayname", _fix_dayname)
    masked = _rewrite_calls(
        masked, "date_trunc", _fix_date_trunc(literals)
    )
    masked = _rewrite_calls(
        masked, "datetrunc", _fix_date_trunc(literals)
    )
    masked = _rewrite_calls(
        masked, "regexp_replace", _fix_regexp_replace(literals)
    )
    # strip the first-occurrence template's scan sentinel (see
    # _first_occurrence_replace)
    masked = masked.replace("\x01", "")
    return _unmask_literals(masked, literals)


def normalize_dollar_literals(sql: str) -> str:
    """DuckDB dollar-quoted strings ($$..$$ / $tag$..$tag$ — the
    idiom for regex-heavy literals) → standard single-quoted
    literals with '' doubling (r13).  Runs FIRST at the pre-parse
    boundary: the content's backslashes stay ordinary characters for
    the literal pass to double, exactly as if the user had written
    the quoted spelling."""
    out = []
    changed = False
    for is_code, text in _segments(sql):
        if not is_code and text[:1] == "$":
            m = re.match(r"\$([A-Za-z_]\w*)?\$", text)
            tag_len = m.end()
            body = text[tag_len:]
            if body.endswith(text[:tag_len]) and len(body) >= tag_len:
                body = body[: -tag_len]
            out.append("'" + body.replace("'", "''") + "'")
            changed = True
        else:
            out.append(text)
    return "".join(out) if changed else sql


def prepare_query_text(sql: str) -> str:
    """The engine's single pre-parse boundary
    (``SparkDestination.prepare``): dollar-quoted literals normalized, then
    DuckDB semantics for the ambiguous call shapes, then DuckDB
    literal semantics through Spark's escape-processing parser.
    Order matters: the call bridge reads replacement literals in
    their DuckDB spelling, and any backslash it emits (\\$) is
    doubled by the literal pass after it."""
    return escape_backslashes_for_spark(
        bridge_call_semantics(normalize_dollar_literals(sql))
    )


def register_compat_functions(spark) -> None:
    """Session-scoped SQL UDFs (inlined JVM expressions — they appear
    in plans as their body, inside whole-stage codegen; never Python),
    plus the Arrow-vectorized similarity functions below."""
    for ddl in COMPAT_FUNCTIONS:
        spark.sql(ddl)
    register_python_compat(spark)


def _jaro_value(s1: str, s2: str) -> float:
    """Jaro similarity — validated value-exact against DuckDB over
    400 random pairs (r13)."""
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0  # both-empty included: DuckDB says 0.0 (probed)
    if s1 == s2:
        return 1.0
    md = max(l1, l2) // 2 - 1
    m1 = [False] * l1
    m2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        for j in range(max(0, i - md), min(l2, i + md + 1)):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(l1):
        if m1[i]:
            while not m2[j]:
                j += 1
            if s1[i] != s2[j]:
                t += 1
            j += 1
    t //= 2
    return (matches / l1 + matches / l2 + (matches - t) / matches) / 3


def _jaro_winkler_value(s1: str, s2: str) -> float:
    """Jaro-Winkler with the classic 0.7 boost threshold and p = 0.1
    — the thresholdless variant diverged on 55 of 400 random pairs
    against DuckDB, the 0.7 one on none (r13 validation)."""
    j = _jaro_value(s1, s2)
    if j <= 0.7:
        return j
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        prefix += 1
    return j + prefix * 0.1 * (1 - j)


def _damerau_value(a: str, b: str) -> int:
    """FULL Damerau-Levenshtein (Lowrance-Wagner, transpositions over
    a distance) — DuckDB's is the unrestricted form: 'ca' → 'abc' is
    2, where the restricted OSA variant says 3 (probed r13)."""
    da: dict[str, int] = {}
    inf = len(a) + len(b)
    h = [[inf] * (len(b) + 2) for _ in range(len(a) + 2)]
    for i in range(len(a) + 1):
        h[i + 1][1] = i
    for j in range(len(b) + 1):
        h[1][j + 1] = j
    for i in range(1, len(a) + 1):
        db = 0
        for j in range(1, len(b) + 1):
            k = da.get(b[j - 1], 0)
            l = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            h[i + 1][j + 1] = min(
                h[i][j] + cost,
                h[i + 1][j] + 1,
                h[i][j + 1] + 1,
                h[k][l] + (i - k - 1) + 1 + (j - l - 1),
            )
        da[a[i - 1]] = i
    return h[len(a) + 1][len(b) + 1]


def register_python_compat(spark) -> None:
    """The DuckDB string-similarity family as ARROW-vectorized pandas
    UDFs — iterative algorithms with no builtin-expression spelling
    (jaro/jaro_winkler_similarity, damerau_levenshtein) and full-
    Unicode strip_accents (NFD + combining-mark drop, validated
    char-exact against DuckDB's ICU path incl. non-decomposable ł and
    ligatures).  Arrow batches amortize the per-row Python; these are
    match-refinement functions, not scan-hot-path ones — prefer
    levenshtein/editdist3 (JVM builtins) in tight loops."""
    import unicodedata

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _pairwise(fn, null):
        # no type annotations: the module's future-annotations mode
        # stringifies them and pandas_udf's hint inference chokes —
        # the explicit returnType carries the typing
        def run(a, b):
            return pd.Series(
                [
                    null if x is None or y is None else fn(x, y)
                    for x, y in zip(a, b)
                ]
            )

        return run

    spark.udf.register(
        "jaro_similarity",
        pandas_udf(_pairwise(_jaro_value, None), "double"),
    )
    spark.udf.register(
        "jaro_winkler_similarity",
        pandas_udf(_pairwise(_jaro_winkler_value, None), "double"),
    )
    spark.udf.register(
        "damerau_levenshtein",
        pandas_udf(_pairwise(_damerau_value, None), "long"),
    )

    def _strip_accents(s):
        return pd.Series(
            [
                None
                if v is None
                else "".join(
                    c
                    for c in unicodedata.normalize("NFD", v)
                    if not unicodedata.combining(c)
                )
                for v in s
            ]
        )

    spark.udf.register(
        "strip_accents", pandas_udf(_strip_accents, "string")
    )


def rewrite(sql: str) -> str:
    """DuckDB SQL → Spark SQL. Pure text transform; string literals,
    quoted identifiers, and comments are never modified."""
    # view_df's fallback reaches here without the pre-parse boundary —
    # dollar literals normalize idempotently (no-op when absent)
    sql = normalize_dollar_literals(sql)
    sql = _rewrite_qualify(sql)
    parts = [
        (is_code, _rewrite_code(text) if is_code else text)
        for is_code, text in _segments(sql)
    ]
    rewritten = _rewrite_bracket_literals(parts)
    # literal-argument rewrites run on masked text: the target literal
    # participates via its placeholder, unrelated literals can't match
    masked, literals = _mask_literals(rewritten)
    masked = _rewrite_parenthesized_from(masked)
    masked = _rewrite_from_first(masked)
    masked = _rewrite_lateral_unnest(masked)
    masked = _rewrite_parallel_unnest(masked)
    masked = _rewrite_date_diff(_rewrite_strftime(masked, literals), literals)
    masked = _rewrite_strptime(masked, literals)
    masked = _rewrite_regexp_flags(masked, literals)
    masked = _rewrite_match_operators(masked, literals)
    masked = _rewrite_list_aggregate(masked, literals)
    masked = _rewrite_date_sub(masked, literals)
    masked = _rewrite_json_keys2(masked, literals)
    masked = _rewrite_ignore_nulls(masked)
    masked = _rewrite_struct_extract(masked, literals)
    masked = _rewrite_parse_path_args(masked, literals)
    masked = _rewrite_list_lambda_calls(masked)
    masked = _rewrite_list_zip(masked)
    masked = _rewrite_list_sort_args(masked, literals)
    masked = _rewrite_wrapped_calls(masked)
    masked = _rewrite_json_extract(masked, literals)
    masked = _rewrite_file_scans(masked, literals)
    masked = _rewrite_asof_join(masked, literals)
    masked = _rewrite_string_split(masked)
    masked = _rewrite_struct_pack(masked)
    masked = _rewrite_brace_literals(masked)
    masked = _rewrite_time_bucket(masked, literals)
    masked = _rewrite_extract_fields(masked, literals)
    masked = _rewrite_format(masked, literals)
    masked = _rewrite_generate_series(masked)
    masked = _rewrite_scalar_series(masked)
    masked = _rewrite_distinct_on(masked)
    masked = _rewrite_list_comprehensions(masked)
    masked = _rewrite_star_replace(masked)
    masked = _rewrite_agg_order_by(masked)
    masked = _rewrite_trailing_commas(masked)
    masked = _rewrite_int_subscripts(masked)
    masked = _rewrite_prefix_aliases(masked)
    _guard_unbridged(masked)
    return _unmask_literals(masked, literals)
