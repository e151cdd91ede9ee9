package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.Linkage
import graft.text.WebClean
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Web-corpus curation operators: URL canonicalization + URL-level dedup,
  * HTML → text extraction, Unicode NFC normalization, fuzzy record
  * linkage, time-series interpolation, leakage-safe split assignment,
  * and video-style scene-cut detection over the stub decode.
  */
object CurationQueries {

  // md5-derived byte value 0..255 (DuckDB rendering of Spark's
  // conv(substring(md5(x),1,2),16,10) — the deterministic fake-signal
  // family shared with the mm_* queries).
  private def hv(x: String): String =
    s"((strpos('0123456789abcdef', substr(md5($x), 1, 1)) - 1) * 16 " +
      s"+ (strpos('0123456789abcdef', substr(md5($x), 2, 1)) - 1))"

  // Raw crawl-ish URL planted per document row (mixed case, default
  // port, tracking params, fragments — each keyed off doc_id mods so
  // every canonicalization rule fires on a deterministic subset).
  private val rawUrlSpark =
    "concat('HTTPS://', upper(source), CAST(doc_id % 7 AS STRING), '.COM', " +
      "IF(doc_id % 3 = 0, ':443', ''), '/Items/', CAST(doc_id % 40 AS STRING), " +
      "IF(doc_id % 4 = 0, '/', ''), " +
      "IF(doc_id % 2 = 0, concat('?utm_source=feed&id=', CAST(doc_id % 20 AS STRING), " +
      "'&utm_campaign=a'), concat('?id=', CAST(doc_id % 20 AS STRING))), " +
      "IF(doc_id % 6 < 3, concat('#sec', CAST(doc_id % 6 AS STRING)), ''))"

  private val rawUrlSql =
    "('HTTPS://' || upper(source) || CAST(doc_id % 7 AS VARCHAR) || '.COM' || " +
      "CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END || '/Items/' || " +
      "CAST(doc_id % 40 AS VARCHAR) || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END || " +
      "CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&id=' || CAST(doc_id % 20 AS VARCHAR) " +
      "|| '&utm_campaign=a' ELSE '?id=' || CAST(doc_id % 20 AS VARCHAR) END || " +
      "CASE WHEN doc_id % 6 < 3 THEN '#sec' || CAST(doc_id % 6 AS VARCHAR) ELSE '' END)"

  // blocklist phrases for text_blocklist_scan: first word ≠ last word in
  // every pattern ⇒ border-free ⇒ the automaton's all-occurrence count
  // equals the oracle's replace-scan (non-overlapping) count exactly.
  private val blockPats = Seq(
    "fast key", "hash scan join", "merge part window", "order batch",
    "stream spark")

  def defs: Map[String, QueryDef] = Map(

    // ── blocklist scan: per-doc occurrence counts for a phrase
    //    dictionary in ONE Aho-Corasick pass (native expression) — the
    //    k-pattern scan costs one text traversal instead of k; scan-local,
    //    zero shuffles before the final order ──
    "text_blocklist_scan" -> QueryDef(
      (spark, dir) => Tables.documents(spark, dir)
        .select(col("doc_id"),
          posexplode(graft.text.Blocklist.counts(col("text"), blockPats))
            .as(Seq("pos", "hits")))
        .select(col("doc_id"),
          element_at(array(blockPats.map(lit): _*), col("pos") + 1)
            .as("pattern"),
          col("hits"))
        .orderBy(col("doc_id"), col("pattern")),
      s"""WITH pats(pat) AS (VALUES ${blockPats.map(p => s"('$p')").mkString(", ")})
         |SELECT d.doc_id, p.pat AS pattern,
         |  CAST((len(d.text) - len(replace(d.text, p.pat, ''))) // len(p.pat)
         |    AS BIGINT) AS hits
         |FROM documents d CROSS JOIN pats p
         |ORDER BY doc_id, pattern""".stripMargin),

    // ── registrable-domain (eTLD+1) extraction: PSL longest-rule match
    //    over the host's label-suffixes, fully scan-local (rule table is
    //    a plan literal; no join, no shuffle) — the domain grouping key
    //    for per-site curation. Hosts planted with single- and
    //    multi-label suffixes, www subdomains, and an unmatched TLD ──
    "web_domain_registrable" -> QueryDef(
      (spark, dir) => graft.text.Domains.withRegistrable(
          Tables.documents(spark, dir)
            .select(col("doc_id"),
              expr("concat(IF(doc_id % 5 = 0, 'www.', ''), 'site', " +
                "CAST(doc_id % 9 AS STRING), '.', " +
                "element_at(array('com','org','io','co.uk','gov.uk','com.au'," +
                "'co.jp','xyz'), CAST(doc_id % 8 AS INT) + 1))").as("host")),
          col("host"))
        .select(col("doc_id"), col("host"), col("etld"), col("reg_domain"))
        .orderBy(col("doc_id")),
      s"""WITH hosts AS (SELECT doc_id,
         |  (CASE WHEN doc_id % 5 = 0 THEN 'www.' ELSE '' END || 'site' ||
         |   CAST(doc_id % 9 AS VARCHAR) || '.' ||
         |   (['com','org','io','co.uk','gov.uk','com.au','co.jp','xyz'])
         |     [CAST(doc_id % 8 AS INT) + 1]) AS host
         |  FROM documents),
         |lab AS (SELECT doc_id, host, string_split(host, '.') AS ls FROM hosts),
         |m AS (SELECT doc_id, host, ls,
         |        list_filter(list_transform(generate_series(1, least(4, len(ls))),
         |          g -> array_to_string(ls[len(ls)-g+1:len(ls)], '.')),
         |          c -> list_contains(${graft.text.Domains.rulesSqlArray()}, c)) AS mm
         |      FROM lab)
         |SELECT doc_id, host,
         |  CASE WHEN len(mm) > 0 THEN mm[len(mm)] END AS etld,
         |  CASE WHEN len(mm) > 0
         |    AND len(ls) > len(string_split(mm[len(mm)], '.'))
         |    THEN ls[len(ls) - len(string_split(mm[len(mm)], '.'))]
         |         || '.' || mm[len(mm)]
         |  END AS reg_domain
         |FROM m ORDER BY doc_id""".stripMargin),

    // ── robots.txt REP gate (RFC 9309): per-domain robots bodies parsed
    //    columnar into rule arrays, URLs joined at DOMAIN grain (the only
    //    exchange — broadcast here, domain-grain shuffle at crawl scale),
    //    longest-prefix-match verdict with Allow winning ties evaluated
    //    scan-local over the joined array. Planted paths hit every
    //    branch: longer-Allow override, prefix-extends-Disallow, junk /
    //    comment / User-agent lines dropped, equal-length tie → Allow ──
    "web_robots_policy" -> QueryDef(
      (spark, dir) => {
        val host = (c: org.apache.spark.sql.Column) =>
          concat(lit("site"), (c % 9).cast("string"), lit(".com"))
        val urls = Tables.documents(spark, dir).select(col("doc_id"),
          host(col("doc_id")).as("host"),
          when(col("doc_id") % 11 === 0,
              concat(lit("/tmp/f"), (col("doc_id") % 25).cast("string")))
            .when(col("doc_id") % 13 === 0, lit("/dup"))
            .otherwise(concat(lit("/items/"),
              (col("doc_id") % 25).cast("string"),
              when(col("doc_id") % 4 === 0, lit("/pub")).otherwise(lit(""))))
            .as("path"))
        val robots = Tables.documents(spark, dir)
          .select(host(col("doc_id")).as("rhost")).distinct()
          .withColumn("d", (substring(col("rhost"), 5, 1).cast("int") % 5)
            .cast("string"))
          .select(col("rhost"), graft.text.Robots.rules(concat(
            lit("# crawl policy\nUser-agent: *\nCrawl-delay: 5\nDisallow: /items/"),
            col("d"), lit("\nAllow: /items/"), col("d"),
            lit("/pub\nDisallow: /tmp/\nAllow: /dup\nDisallow: /dup\n" +
              "Disallow: /*/pub\nAllow: /tmp/f1$\nAllow: /")))
            .as("rules"))
        urls.join(robots, col("host") === col("rhost"))
          .select(col("doc_id"), col("host"), col("path"),
            graft.text.Robots.bestMatch(col("rules"), col("path"), allow = true)
              .as("best_allow"),
            graft.text.Robots.bestMatch(col("rules"), col("path"), allow = false)
              .as("best_disallow"),
            graft.text.Robots.allowed(col("rules"), col("path")).as("allowed"))
          .orderBy(col("doc_id"))
      },
      {
        // the oracle derives each wildcard rule's regex with the SAME
        // escape chain (same characters, same order) as Robots.rules —
        // generated from Robots.regexMetas so the two can't drift
        val rp = "regexp_extract(l, '^(?:Allow|Disallow): (.*)$', 1)"
        val anch = "ends_with(" + rp + ", '$')"
        val body = "CASE WHEN " + anch + " THEN substr(" + rp +
          ", 1, len(" + rp + ")-1) ELSE " + rp + " END"
        val esc = graft.text.Robots.regexMetas.foldLeft(body)((acc, m) =>
          "replace(" + acc + ", '" + m + "', '" + "\\" + m + "')")
        val rx = "'^' || replace(" + esc + ", '*', '.*') || CASE WHEN " +
          anch + " THEN '$' ELSE '' END"
        """WITH urls AS (SELECT doc_id,
        |    'site' || CAST(doc_id % 9 AS VARCHAR) || '.com' AS host,
        |    CASE WHEN doc_id % 11 = 0 THEN '/tmp/f' || CAST(doc_id % 25 AS VARCHAR)
        |         WHEN doc_id % 13 = 0 THEN '/dup'
        |         ELSE '/items/' || CAST(doc_id % 25 AS VARCHAR) ||
        |              CASE WHEN doc_id % 4 = 0 THEN '/pub' ELSE '' END END AS path
        |  FROM documents),
        |hosts AS (SELECT DISTINCT host,
        |    CAST(CAST(substr(host, 5, 1) AS INT) % 5 AS VARCHAR) AS d FROM urls),
        |robots AS (SELECT host,
        |    '# crawl policy' || chr(10) || 'User-agent: *' || chr(10) ||
        |    'Crawl-delay: 5' || chr(10) || 'Disallow: /items/' || d || chr(10) ||
        |    'Allow: /items/' || d || '/pub' || chr(10) || 'Disallow: /tmp/' ||
        |    chr(10) || 'Allow: /dup' || chr(10) || 'Disallow: /dup' || chr(10) ||
        |    'Disallow: /*/pub' || chr(10) || 'Allow: /tmp/f1$' || chr(10) ||
        |    'Allow: /' AS txt
        |  FROM hosts),
        |rl AS (SELECT host, list_transform(
        |    list_filter(string_split(txt, chr(10)),
        |      l -> starts_with(l, 'Allow: /') OR starts_with(l, 'Disallow: /')),
        |    l -> struct_pack(allow := starts_with(l, 'Allow: '),
        |                     rpath := RPEXPR,
        |                     wild := contains(RPEXPR, '*') OR ANCHEXPR,
        |                     rx := RXEXPR))
        |    AS rules
        |  FROM robots),
        |ev AS (SELECT u.doc_id, u.host, u.path,
        |    CAST(coalesce(list_max(list_transform(
        |      list_filter(rl.rules, x -> x.allow AND
        |        (CASE WHEN x.wild THEN regexp_matches(u.path, x.rx)
        |              ELSE starts_with(u.path, x.rpath) END)),
        |      x -> len(x.rpath))), -1) AS INT) AS best_allow,
        |    CAST(coalesce(list_max(list_transform(
        |      list_filter(rl.rules, x -> NOT x.allow AND
        |        (CASE WHEN x.wild THEN regexp_matches(u.path, x.rx)
        |              ELSE starts_with(u.path, x.rpath) END)),
        |      x -> len(x.rpath))), -1) AS INT) AS best_disallow
        |  FROM urls u JOIN rl ON u.host = rl.host)
        |SELECT doc_id, host, path, best_allow, best_disallow,
        |  best_allow >= best_disallow AS allowed
        |FROM ev ORDER BY doc_id""".stripMargin
          .replace("RPEXPR", rp).replace("ANCHEXPR", anch).replace("RXEXPR", rx)
      }),

    // ── robots REP gate, §2.2.1 group-aware: bodies carry a named
    //    GraftBot group (tolerant spellings: 'disallow:', 'Allow :', a
    //    percent-encoded rule path), a consecutive-UA group shared by
    //    helperbot+graftbot, and a '*' fallback; rules are selected per
    //    (host, agent) at DOMAIN grain and URLs join on (host, agent).
    //    Paths percent-normalize on both sides (%61 ≡ a). The oracle
    //    derives each agent class's MERGED rule set independently (hand-
    //    resolved literals, not a SQL reimplementation of the parser) —
    //    pinning the group-selection OUTCOME ──
    "web_robots_groups" -> QueryDef(
      (spark, dir) => {
        val host = (c: org.apache.spark.sql.Column) =>
          concat(lit("site"), (c % 9).cast("string"), lit(".com"))
        val dd = (c: org.apache.spark.sql.Column) => ((c % 9) % 5).cast("string")
        val urls = Tables.documents(spark, dir).select(col("doc_id"),
          host(col("doc_id")).as("host"),
          element_at(array(lit("GraftBot"), lit("unknownbot"), lit("HELPERBOT")),
            (col("doc_id") % 3).cast("int") + 1).as("agent"),
          when(col("doc_id") % 5 === 0,
              concat(lit("/sec"), (col("doc_id") % 6).cast("string"), lit("/a")))
            .when(col("doc_id") % 5 === 1,
              concat(lit("/sec"), dd(col("doc_id")), lit("/pub/x")))
            .when(col("doc_id") % 5 === 2,
              when(col("doc_id") % 2 === 0,
                concat(lit("/p%61th"), dd(col("doc_id")), lit("/f")))
              .otherwise(concat(lit("/path"), dd(col("doc_id")), lit("/f"))))
            .when(col("doc_id") % 5 === 3, lit("/extra/z"))
            .otherwise(lit("/open/x")).as("path"))
        val agents = Seq("GraftBot", "unknownbot", "HELPERBOT")
        // r14 (§2.2): the REP parse is interpreted-HOF-heavy — ~100 ms
        // per (domain, agent) row — and AQE coalesces the tiny distinct
        // output to ONE partition, serializing the whole parse leg on a
        // single core (profiler: 2.5-3 s of taskSec in 1-task stages).
        // Fan the parse across the session's cores (Hints.spread: a
        // production-size corpus scan already funds them and is left
        // alone); the domain frame is counted once for the broadcast gate
        // below.
        val hosts = Tables.documents(spark, dir)
          .select(host(col("doc_id")).as("rhost")).distinct()
        val nRobots = hosts.count() * agents.size
        val robots = graft.ops.Hints.spread(hosts
          .withColumn("d", (substring(col("rhost"), 5, 1).cast("int") % 5)
            .cast("string"))
          .withColumn("ragent", explode(array(agents.map(lit): _*))))
          .select(col("rhost"), col("ragent"),
            graft.text.Robots.rulesForAgent(concat(
              lit("# graft crawl policy\nUser-Agent: GraftBot\ndisallow: /sec"),
              col("d"), lit("/\nAllow :/sec"), col("d"),
              lit("/pub/\nDisallow: /p%61th"), col("d"),
              lit("/\n\nUser-agent: helperbot\nUser-agent: graftbot\n" +
                "Disallow: /extra/\n\nUser-agent: *\nDisallow: /\nAllow: /open/\n")),
              col("ragent")).as("rules"))
          // r13 opt: the REP parse is a very large expression tree over a
          // 27-row domain-grain frame; checkpointing it keeps that tree
          // out of the URL-side plan entirely (one small materialization
          // vs re-carrying the parse through analysis/optimization of the
          // joined query — measured 3.2 s → 2.6 s at sf0.1). Domain grain
          // is tiny by construction at any corpus scale.
          .localCheckpoint(eager = false)
        // r14 (§1.2 + §3.1): normalizePath is an expensive subtree
        // (split + transform HOF + conv) that bestMatch's filter lambdas
        // referenced — interpreted HOFs re-evaluate an inlined argument
        // subtree PER RULE ELEMENT, so each URL normalized its path
        // ~2×|rules| times. Hoist it to a projection ("_np"). The robots
        // frame is domain-grain; its checkpoint keeps the parse's size
        // estimate, which may or may not fall under the planner's
        // threshold: broadcast it on an honest count-based bound — the
        // URL side then streams from the scan with zero exchange before
        // the verdict projection.
        val np = graft.text.Robots.normalizePath(col("path"))
        val robotsBytes = BigInt(nRobots) * 2048
        urls.select(col("doc_id"), col("host"), col("agent"), col("path"),
            np.as("_np"))
          .join(graft.ops.Hints.broadcastIfFits(robots, robotsBytes),
            col("host") === col("rhost") && col("agent") === col("ragent"))
          .select(col("doc_id"), col("host"), col("agent"), col("path"),
            graft.text.Robots.bestMatch(col("rules"), col("_np"), allow = true)
              .as("best_allow"),
            graft.text.Robots.bestMatch(col("rules"), col("_np"), allow = false)
              .as("best_disallow"),
            graft.text.Robots.allowed(col("rules"), col("_np")).as("allowed"))
          .orderBy(col("doc_id"))
      },
      """WITH urls AS (SELECT doc_id,
        |    'site' || CAST(doc_id % 9 AS VARCHAR) || '.com' AS host,
        |    CAST((doc_id % 9) % 5 AS VARCHAR) AS dd,
        |    (['GraftBot','unknownbot','HELPERBOT'])[CAST(doc_id % 3 AS INT) + 1]
        |      AS agent,
        |    CASE CAST(doc_id % 5 AS INT)
        |      WHEN 0 THEN '/sec' || CAST(doc_id % 6 AS VARCHAR) || '/a'
        |      WHEN 1 THEN '/sec' || CAST((doc_id % 9) % 5 AS VARCHAR) || '/pub/x'
        |      WHEN 2 THEN CASE WHEN doc_id % 2 = 0
        |        THEN '/p%61th' || CAST((doc_id % 9) % 5 AS VARCHAR) || '/f'
        |        ELSE '/path' || CAST((doc_id % 9) % 5 AS VARCHAR) || '/f' END
        |      WHEN 3 THEN '/extra/z'
        |      ELSE '/open/x' END AS path
        |  FROM documents),
        |sel AS (SELECT doc_id, host, agent, path,
        |    replace(path, '%61', 'a') AS np,
        |    CASE WHEN lower(agent) = 'graftbot' THEN
        |      [struct_pack(a := false, p := '/sec' || dd || '/'),
        |       struct_pack(a := true,  p := '/sec' || dd || '/pub/'),
        |       struct_pack(a := false, p := '/path' || dd || '/'),
        |       struct_pack(a := false, p := '/extra/')]
        |    WHEN lower(agent) = 'helperbot' THEN
        |      [struct_pack(a := false, p := '/extra/')]
        |    ELSE
        |      [struct_pack(a := false, p := '/'),
        |       struct_pack(a := true,  p := '/open/')]
        |    END AS rls
        |  FROM urls),
        |ev AS (SELECT doc_id, host, agent, path,
        |    CAST(coalesce(list_max(list_transform(
        |      list_filter(rls, x -> x.a AND starts_with(np, x.p)),
        |      x -> len(x.p))), -1) AS INT) AS best_allow,
        |    CAST(coalesce(list_max(list_transform(
        |      list_filter(rls, x -> NOT x.a AND starts_with(np, x.p)),
        |      x -> len(x.p))), -1) AS INT) AS best_disallow
        |  FROM sel)
        |SELECT doc_id, host, agent, path, best_allow, best_disallow,
        |  best_allow >= best_disallow AS allowed
        |FROM ev ORDER BY doc_id""".stripMargin),

    // ── crawl-budget apportionment: split a fixed fetch budget across
    //    domains proportionally to document mass with LARGEST-REMAINDER
    //    rounding (Hamilton's method — Σ quota == budget exactly, no fp).
    //    Scale shape: everything is domain-grain (one groupBy shuffle);
    //    the order statistic the method needs is a DISTRIBUTED
    //    TakeOrderedAndProject top-R (per-partition top-R + merge, R <
    //    budget, a constant) — never a single-partition global window —
    //    and the two driver scalars (total mass, leftover R) are 1-row
    //    collects ──
    "web_crawl_budget" -> QueryDef(
      (spark, dir) => {
        val budget = 97L
        val host = concat(lit("site"), (col("doc_id") % 9).cast("string"),
          lit(".com"))
        val d = Tables.documents(spark, dir).select(host.as("host"))
          .groupBy("host").agg(count(lit(1)).as("docs"))
          .localCheckpoint(false)
        val tot = d.agg(sum(col("docs"))).head().getLong(0)
        val f = d.select(col("host"), col("docs"),
            expr(s"$budget * docs DIV $tot").as("floor_q"),
            expr(s"($budget * docs) % $tot").as("rem"))
          .localCheckpoint(false)
        val extra = (budget - f.agg(sum(col("floor_q"))).head().getLong(0)).toInt
        val plus = f.orderBy(col("rem").desc, col("host")).limit(extra)
          .select(col("host").as("phost"))
        f.join(plus, col("host") === col("phost"), "left")
          .select(col("host"), col("docs"), col("floor_q"), col("rem"),
            (col("floor_q") + when(col("phost").isNotNull, 1L).otherwise(0L))
              .as("quota"))
          .orderBy(col("host"))
      },
      """WITH d AS (SELECT 'site' || CAST(doc_id % 9 AS VARCHAR) || '.com' AS host,
        |    CAST(count(*) AS BIGINT) AS docs
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(docs) AS BIGINT) AS tot FROM d),
        |f AS (SELECT host, docs,
        |    CAST((97 * docs) // tot AS BIGINT) AS floor_q,
        |    CAST((97 * docs) % tot AS BIGINT) AS rem
        |  FROM d, t),
        |r AS (SELECT CAST(97 - sum(floor_q) AS BIGINT) AS extra FROM f),
        |rk AS (SELECT host, row_number() OVER (ORDER BY rem DESC, host) AS rn
        |  FROM f)
        |SELECT f.host, f.docs, f.floor_q, f.rem,
        |  f.floor_q + CASE WHEN rk.rn <= r.extra THEN 1 ELSE 0 END AS quota
        |FROM f JOIN rk ON f.host = rk.host, r
        |ORDER BY f.host""".stripMargin),

    // ── URL canonicalization (row-level): fragment / case / default
    //    port / utm params / trailing slash — the normalize-before-dedup
    //    key derivation of a crawl pipeline ──
    "web_url_canon" -> QueryDef(
      (spark, dir) => Tables.documents(spark, dir)
        .select(col("doc_id"),
          WebClean.canonicalizeUrl(expr(rawUrlSpark)).as("canon_url"))
        .orderBy(col("doc_id")),
      s"""SELECT doc_id, ${WebClean.canonicalizeUrlSql(rawUrlSql)} AS canon_url
         |FROM documents ORDER BY doc_id""".stripMargin),

    // ── C4-style line-grain cleaning (Raffel et al. 2020 §2.2): lines
    //    are kept only if they end in terminal punctuation, have ≥ 3
    //    words, and don't mention javascript; pages drop when fewer than
    //    5 lines survive or any line carries a curly brace (code smell).
    //    Lines + rule triggers are planted per (doc_id, line) so every
    //    rule fires on a deterministic subset. Per-doc line structs ride
    //    ONE transform over the token array — scan-local, no explode, no
    //    shuffle; the (doc, line) grain never hits an exchange even
    //    though the verdicts are line-level ──
    "text_c4_lines" -> QueryDef(
      (spark, dir) => {
        val toksC = regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0))
        Tables.documents(spark, dir)
          .select(col("doc_id"), toksC.as("toks"))
          .withColumn("wc", size(col("toks")))
          .withColumn("lines", transform(
            sequence(lit(0), ((col("wc") - 1) / 8).cast("int")),
            i => {
              val nw = least(lit(8), col("wc") - i * 8)
              val base = array_join(slice(col("toks"), i * 8 + 1, lit(8)), " ")
              val js = (col("doc_id") * 3 + i) % 17 === 0
              val brace = (col("doc_id") + i) % 19 === 0
              val punct = (col("doc_id") + i) % 3 =!= 0
              val line = concat(base,
                when(js, lit(" javascript")).otherwise(lit("")),
                when(brace, lit(" {")).otherwise(lit("")),
                when(punct, lit(".")).otherwise(lit("")))
              struct(length(line).as("len"), brace.as("brace"),
                (nw >= 3 && punct && !js).as("kept"))
            }))
          .select(col("doc_id"),
            size(col("lines")).as("n_lines"),
            size(filter(col("lines"), l => l.getField("kept"))).as("kept_lines"),
            aggregate(col("lines"), lit(0),
              (acc, l) => acc + when(l.getField("kept"), l.getField("len"))
                .otherwise(lit(0))).as("cleaned_len"),
            exists(col("lines"), l => l.getField("brace")).as("has_brace"))
          .withColumn("page_keep", col("kept_lines") >= 5 && !col("has_brace"))
          .orderBy(col("doc_id"))
      },
      """WITH t AS (SELECT doc_id,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents),
        |w AS (SELECT doc_id, toks, CAST(len(toks) AS INT) AS wc FROM t),
        |ln AS (SELECT doc_id, list_transform(
        |    generate_series(0, (wc - 1) // 8),
        |    i -> struct_pack(
        |      ln := CAST(len(array_to_string(toks[i*8+1:i*8+8], ' ')
        |        || CASE WHEN (doc_id*3 + i) % 17 = 0 THEN ' javascript' ELSE '' END
        |        || CASE WHEN (doc_id + i) % 19 = 0 THEN ' {' ELSE '' END
        |        || CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END) AS INT),
        |      brace := (doc_id + i) % 19 = 0,
        |      kept := least(8, wc - i*8) >= 3 AND (doc_id + i) % 3 <> 0
        |              AND (doc_id*3 + i) % 17 <> 0)) AS lines
        |  FROM w)
        |SELECT doc_id,
        |  CAST(len(lines) AS INT) AS n_lines,
        |  CAST(len(list_filter(lines, l -> l.kept)) AS INT) AS kept_lines,
        |  CAST(coalesce(list_sum(list_transform(lines,
        |    l -> CASE WHEN l.kept THEN l.ln ELSE 0 END)), 0) AS INT) AS cleaned_len,
        |  len(list_filter(lines, l -> l.brace)) > 0 AS has_brace,
        |  CAST(len(list_filter(lines, l -> l.kept)) AS INT) >= 5
        |    AND NOT len(list_filter(lines, l -> l.brace)) > 0 AS page_keep
        |FROM ln ORDER BY doc_id""".stripMargin),

    // ── link-graph extraction: plant deterministic anchors in each doc's
    //    page, pull every href with ONE regexp_extract_all pass (no
    //    per-link UDF), explode, roll up to the (src_domain, dst_domain)
    //    edge grain with link + distinct-page counts — the hyperlink
    //    authority signal of web-corpus curation. Scale: extraction is
    //    scan-local; the single shuffle is the edge-grain rollup ──
    "web_link_graph" -> QueryDef(
      (spark, dir) => Tables.documents(spark, dir)
        .select(col("doc_id"),
          concat(lit("src"), col("doc_id") % 7).as("src_domain"),
          expr("concat('<html><body><p>', substring(text, 1, 40), " +
            "'</p><a href=\"https://d', CAST(doc_id % 20 AS STRING), " +
            "'.example/page/', CAST(doc_id AS STRING), '\">next</a>', " +
            "CASE WHEN doc_id % 2 = 0 THEN concat('<a href=\"https://d', " +
            "CAST(doc_id % 13 AS STRING), '.example/top\">up</a>') " +
            "ELSE '' END, '</body></html>')").as("html"))
        .select(col("doc_id"), col("src_domain"),
          explode(expr("regexp_extract_all(html, 'href=\"([^\"]+)\"', 1)"))
            .as("url"))
        .select(col("doc_id"), col("src_domain"),
          regexp_extract(col("url"), "^https://([^/]+)/", 1).as("dst_domain"))
        .groupBy(col("src_domain"), col("dst_domain"))
        .agg(count(lit(1)).as("n_links"),
          countDistinct(col("doc_id")).as("n_pages"))
        .orderBy(col("src_domain"), col("dst_domain")),
      """WITH pages AS (
        |  SELECT doc_id, 'src' || CAST(doc_id % 7 AS VARCHAR) AS src_domain,
        |    '<html><body><p>' || substring(text, 1, 40) ||
        |    '</p><a href="https://d' || CAST(doc_id % 20 AS VARCHAR) ||
        |    '.example/page/' || CAST(doc_id AS VARCHAR) || '">next</a>' ||
        |    CASE WHEN doc_id % 2 = 0 THEN '<a href="https://d' ||
        |      CAST(doc_id % 13 AS VARCHAR) || '.example/top">up</a>'
        |    ELSE '' END || '</body></html>' AS html
        |  FROM documents),
        |links AS (
        |  SELECT doc_id, src_domain,
        |    regexp_extract(unnest(regexp_extract_all(html, 'href="([^"]+)"', 1)),
        |      '^https://([^/]+)/', 1) AS dst_domain
        |  FROM pages)
        |SELECT src_domain, dst_domain, CAST(count(*) AS BIGINT) AS n_links,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_pages
        |FROM links GROUP BY 1, 2 ORDER BY src_domain, dst_domain""".stripMargin),

    // ── URL-level dedup: group by the canonical form — variants that
    //    differ only in case/port/tracking/fragment collapse to one
    //    representative (min doc_id), ONE hash shuffle at the URL grain ──
    "dedup_url" -> QueryDef(
      (spark, dir) => Tables.documents(spark, dir)
        .select(col("doc_id"),
          WebClean.canonicalizeUrl(expr(rawUrlSpark)).as("canon_url"))
        .groupBy(col("canon_url"))
        .agg(min(col("doc_id")).as("representative"),
          count(lit(1)).as("n_variants"))
        .orderBy(col("canon_url")),
      s"""SELECT ${WebClean.canonicalizeUrlSql(rawUrlSql)} AS canon_url,
         |  min(doc_id) AS representative, count(*) AS n_variants
         |FROM documents GROUP BY 1 ORDER BY canon_url""".stripMargin),

    // ── HTML → text extraction: drop script/style subtrees, strip tags,
    //    decode entities, collapse whitespace — the boilerplate-removal
    //    front door of a web-corpus pipeline. Docs carry no markup, so
    //    the query plants a deterministic page around each text and
    //    recovers the payload; the oracle replays the same chain ──
    "text_html_strip" -> QueryDef(
      (spark, dir) => Tables.documents(spark, dir)
        .select(col("doc_id"),
          WebClean.htmlStrip(expr(
            "concat('<html><head><style>p{color:red}</style></head><body>', " +
              "'<h1 id=\"t\">', substring(text, 1, 30), '</h1><p>', " +
              "substring(text, 31, 40), ' &amp; &lt;more&gt; &quot;q&quot; ', " +
              "'&#39;s&#39;&nbsp;end</p>', " +
              "'<script type=\"text/javascript\">var x=1;</script></body></html>')"))
            .as("cleaned"))
        .orderBy(col("doc_id")), {
        val html = "('<html><head><style>p{color:red}</style></head><body>' || " +
          "'<h1 id=\"t\">' || substr(text, 1, 30) || '</h1><p>' || " +
          "substr(text, 31, 40) || ' &amp; &lt;more&gt; &quot;q&quot; ' || " +
          "'&#39;s&#39;&nbsp;end</p>' || " +
          "'<script type=\"text/javascript\">var x=1;</script></body></html>')"
        s"""SELECT doc_id, ${WebClean.htmlStripSql(html)} AS cleaned
           |FROM documents ORDER BY doc_id""".stripMargin
      }),

    // ── Unicode NFC normalization (native Catalyst expression backed by
    //    java.text.Normalizer; DuckDB nfc_normalize is the same UAX #15
    //    algorithm): combining sequences compose, precomposed text is
    //    untouched — run before any hash-based dedup so `e`+U+0301 and
    //    `é` collide ──
    "text_nfc_norm" -> QueryDef(
      (spark, dir) => {
        val planted = concat(lit("Cafe\u0301 nin\u0303o u\u0308ber caf\u00e9 :: "),
          substring(col("text"), 1, 12))
        Tables.documents(spark, dir)
          .select(col("doc_id"),
            graft.functions.nfc_normalize(planted).as("norm"),
            length(planted).as("n_before"),
            length(graft.functions.nfc_normalize(planted)).as("n_after"))
          .orderBy(col("doc_id"))
      },
      """SELECT doc_id,
        |  nfc_normalize('Cafe' || chr(769) || ' nin' || chr(771) || 'o u'
        |    || chr(776) || 'ber caf' || chr(233) || ' :: ' || substr(text, 1, 12)) AS norm,
        |  CAST(length('Cafe' || chr(769) || ' nin' || chr(771) || 'o u'
        |    || chr(776) || 'ber caf' || chr(233) || ' :: ' || substr(text, 1, 12)) AS INT) AS n_before,
        |  CAST(length(nfc_normalize('Cafe' || chr(769) || ' nin' || chr(771) || 'o u'
        |    || chr(776) || 'ber caf' || chr(233) || ' :: ' || substr(text, 1, 12))) AS INT) AS n_after
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ── entity resolution end-to-end: the ED≤1 linkage pairs feed
    //    connected components (pointer doubling), dirty/clean record ids
    //    disambiguated onto odd/even keys; output is the entity-size
    //    histogram — matched records collapsed into entities ──
    "fuzzy_entities" -> QueryDef(
      (spark, dir) => {
        val base = Tables.documents(spark, dir)
          .select(col("doc_id"), substring(col("text"), 1, 24).as("name"))
        val clean = base.select(col("doc_id").as("cid"), col("name"))
        val dirty = base.select(col("doc_id").as("did"),
          expr("concat(substring(name, 1, CAST(doc_id % 12 + 6 AS INT)), " +
            "substring(name, CAST(doc_id % 12 + 8 AS INT)))").as("dname"))
        // exact-audit gate (oracle replays no cap): uncapped opt-in
        val pairs = Linkage
          .fuzzyPairs(dirty, "did", "dname", clean, "cid", "name", maxDist = 1,
            maxBucket = Int.MaxValue)
          .select((col("i") * 2 + 1).as("i"), (col("j") * 2).as("j"))
        graft.dedup.Dedup.clusters(pairs)
          .groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
          .groupBy(col("sz")).agg(count(lit(1)).as("n_entities"))
          .orderBy(col("sz"))
      },
      """WITH RECURSIVE b AS (SELECT doc_id, substr(text, 1, 24) AS name FROM documents),
        |d AS (SELECT doc_id AS i,
        |    substr(name, 1, CAST(doc_id % 12 + 6 AS INT))
        |      || substr(name, CAST(doc_id % 12 + 8 AS INT)) AS dname
        |  FROM b),
        |c AS (SELECT doc_id AS j, name FROM b),
        |dk AS (SELECT i, 'P' AS tag, substr(dname, 1, 6) AS key FROM d
        |       UNION ALL SELECT i, 'S', right(dname, 6) FROM d),
        |ck AS (SELECT j, 'P' AS tag, substr(name, 1, 6) AS key FROM c
        |       UNION ALL SELECT j, 'S', right(name, 6) FROM c),
        |sc AS (SELECT i, j FROM d, c
        |       WHERE len(dname) <= 13 AND len(name) <= 13),
        |cand AS (SELECT DISTINCT i, j FROM
        |  (SELECT i, j FROM dk JOIN ck USING (tag, key)
        |   UNION ALL SELECT i, j FROM sc)),
        |fp AS (SELECT i, j FROM cand JOIN d USING (i) JOIN c USING (j)
        |       WHERE levenshtein(dname, name) <= 1),
        |pe AS (SELECT i * 2 + 1 AS i, j * 2 AS j FROM fp),
        |edges AS (SELECT i AS src, j AS dst FROM pe UNION SELECT j, i FROM pe),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |labels AS (
        |  SELECT src AS id, least(src, min(dst)) AS cluster
        |  FROM reach GROUP BY src),
        |szs AS (SELECT cluster, count(*) AS sz FROM labels GROUP BY 1)
        |SELECT CAST(sz AS BIGINT) AS sz, count(*) AS n_entities
        |FROM szs GROUP BY 1 ORDER BY sz""".stripMargin),

    // ── fuzzy record linkage: dirty titles (one planted char deletion)
    //    matched to the clean catalog within edit distance 1 via
    //    two-ended blocking (prefix-6 OR suffix-6 survives any single
    //    edit — pigeonhole-complete, LinkageSpec proves it vs the cross
    //    join); rescore uses threshold levenshtein (early abandon) ──
    "fuzzy_match_pairs" -> QueryDef(
      (spark, dir) => {
        val base = Tables.documents(spark, dir)
          .select(col("doc_id"), substring(col("text"), 1, 24).as("name"))
        val clean = base.select(col("doc_id").as("cid"), col("name"))
        val dirty = base.select(col("doc_id").as("did"),
          expr("concat(substring(name, 1, CAST(doc_id % 12 + 6 AS INT)), " +
            "substring(name, CAST(doc_id % 12 + 8 AS INT)))").as("dname"))
        // exact-audit gate (oracle replays no cap): uncapped opt-in
        Linkage.fuzzyPairs(dirty, "did", "dname", clean, "cid", "name",
            maxDist = 1, maxBucket = Int.MaxValue)
          .orderBy(col("i"), col("j"))
      },
      """WITH b AS (SELECT doc_id, substr(text, 1, 24) AS name FROM documents),
        |d AS (SELECT doc_id AS i,
        |    substr(name, 1, CAST(doc_id % 12 + 6 AS INT))
        |      || substr(name, CAST(doc_id % 12 + 8 AS INT)) AS dname
        |  FROM b),
        |c AS (SELECT doc_id AS j, name FROM b),
        |dk AS (SELECT i, 'P' AS tag, substr(dname, 1, 6) AS key FROM d
        |       UNION ALL SELECT i, 'S', right(dname, 6) FROM d),
        |ck AS (SELECT j, 'P' AS tag, substr(name, 1, 6) AS key FROM c
        |       UNION ALL SELECT j, 'S', right(name, 6) FROM c),
        |sc AS (SELECT i, j FROM d, c
        |       WHERE len(dname) <= 13 AND len(name) <= 13),
        |cand AS (SELECT DISTINCT i, j FROM
        |  (SELECT i, j FROM dk JOIN ck USING (tag, key)
        |   UNION ALL SELECT i, j FROM sc))
        |SELECT i, j, CAST(levenshtein(dname, name) AS INT) AS dist
        |FROM cand JOIN d USING (i) JOIN c USING (j)
        |WHERE levenshtein(dname, name) <= 1
        |ORDER BY i, j""".stripMargin),

    // ── ED ≤ 2 linkage (PassJoin segment blocking): two deterministic
    //    deletions per dirty name; a clean name's 3 segments pigeonhole
    //    two edits, so one survives verbatim (±2 shift) in any true
    //    match. Candidates from the (len, slot, segment) equi-join,
    //    verified with banded levenshtein; the oracle replays the
    //    segment scheme and the shift window exactly ──
    "fuzzy_match_ed2" -> QueryDef(
      (spark, dir) => {
        val base = Tables.documents(spark, dir)
          .select(col("doc_id"), substring(col("text"), 1, 24).as("name"))
        val clean = base.select(col("doc_id").as("cid"), col("name"))
        val dirty = base
          .withColumn("p1", expr("CAST(doc_id % 8 + 4 AS INT)"))
          .withColumn("s1",
            expr("concat(substring(name, 1, p1 - 1), substring(name, p1 + 1))"))
          .withColumn("p2", expr("CAST(doc_id % 5 + 10 AS INT)"))
          .select(col("doc_id").as("did"),
            expr("concat(substring(s1, 1, p2 - 1), substring(s1, p2 + 1))").as("dname"))
        // exact-audit gate (oracle replays no cap): uncapped opt-in
        Linkage.fuzzyPairsSegment(dirty, "did", "dname", clean, "cid", "name",
            maxDist = 2, maxBucket = Int.MaxValue)
          .orderBy(col("i"), col("j"))
      },
      """WITH b AS (SELECT doc_id, substr(text, 1, 24) AS name FROM documents),
        |d0 AS (SELECT doc_id, name, CAST(doc_id % 8 + 4 AS INT) AS p1,
        |         CAST(doc_id % 5 + 10 AS INT) AS p2 FROM b),
        |d AS (SELECT doc_id AS i,
        |        substr(s1, 1, p2 - 1) || substr(s1, p2 + 1) AS dname
        |      FROM (SELECT doc_id, p2,
        |              substr(name, 1, p1 - 1) || substr(name, p1 + 1) AS s1
        |            FROM d0)),
        |c AS (SELECT doc_id AS j, name FROM b),
        |cseg AS (SELECT j, clen, k,
        |    substr(name,
        |      CAST(1 + (k-1)*(clen//3) + greatest(0, k-1-(3 - clen%3)) AS INT),
        |      CAST(clen//3 + CASE WHEN k > 3 - clen%3 THEN 1 ELSE 0 END AS INT))
        |      AS seg
        |  FROM (SELECT j, name, CAST(len(name) AS INT) AS clen FROM c),
        |       (SELECT unnest([1, 2, 3]) AS k)
        |  WHERE clen >= 3),
        |dsub AS (SELECT i, clen, k, substr(dname, st, sl) AS seg FROM (
        |   SELECT i, dname, dlen, dlen + dl AS clen, k,
        |     CAST(1 + (k-1)*((dlen+dl)//3)
        |       + greatest(0, k-1-(3-(dlen+dl)%3)) + sh AS INT) AS st,
        |     CAST((dlen+dl)//3
        |       + CASE WHEN k > 3 - (dlen+dl)%3 THEN 1 ELSE 0 END AS INT) AS sl
        |   FROM (SELECT i, dname, CAST(len(dname) AS INT) AS dlen FROM d),
        |        (SELECT unnest(generate_series(-2, 2)) AS dl),
        |        (SELECT unnest([1, 2, 3]) AS k),
        |        (SELECT unnest(generate_series(-2, 2)) AS sh))
        |  WHERE clen >= 3 AND st >= 1 AND st + sl - 1 <= dlen),
        |blk AS (SELECT i, j FROM dsub JOIN cseg USING (clen, k, seg)),
        |sc AS (SELECT i, j FROM d, c
        |       WHERE len(dname) <= 4 AND len(name) <= 2),
        |cand AS (SELECT DISTINCT i, j FROM
        |  (SELECT i, j FROM blk UNION ALL SELECT i, j FROM sc))
        |SELECT i, j, CAST(levenshtein(dname, name) AS INT) AS dist
        |FROM cand JOIN d USING (i) JOIN c USING (j)
        |WHERE levenshtein(dname, name) <= 2
        |ORDER BY i, j""".stripMargin),

    // ── the 100 TB path of the same linkage: maxBucket=4096 drops
    //    degenerate segment buckets from BOTH join sides (popular name
    //    prefixes make bucket PRODUCTS, the measured 100× wall); a pair
    //    is lost only when its EVERY shared segment is degenerate. The
    //    oracle replays the cap with the same window counts ──
    "fuzzy_match_ed2_capped" -> QueryDef(
      (spark, dir) => {
        val base = Tables.documents(spark, dir)
          .select(col("doc_id"), substring(col("text"), 1, 24).as("name"))
        val clean = base.select(col("doc_id").as("cid"), col("name"))
        val dirty = base
          .withColumn("p1", expr("CAST(doc_id % 8 + 4 AS INT)"))
          .withColumn("s1",
            expr("concat(substring(name, 1, p1 - 1), substring(name, p1 + 1))"))
          .withColumn("p2", expr("CAST(doc_id % 5 + 10 AS INT)"))
          .select(col("doc_id").as("did"),
            expr("concat(substring(s1, 1, p2 - 1), substring(s1, p2 + 1))").as("dname"))
        Linkage.fuzzyPairsSegment(dirty, "did", "dname", clean, "cid", "name",
            maxDist = 2, maxBucket = 4096)
          .orderBy(col("i"), col("j"))
      },
      """WITH b AS (SELECT doc_id, substr(text, 1, 24) AS name FROM documents),
        |d0 AS (SELECT doc_id, name, CAST(doc_id % 8 + 4 AS INT) AS p1,
        |         CAST(doc_id % 5 + 10 AS INT) AS p2 FROM b),
        |d AS (SELECT doc_id AS i,
        |        substr(s1, 1, p2 - 1) || substr(s1, p2 + 1) AS dname
        |      FROM (SELECT doc_id, p2,
        |              substr(name, 1, p1 - 1) || substr(name, p1 + 1) AS s1
        |            FROM d0)),
        |c AS (SELECT doc_id AS j, name FROM b),
        |cseg0 AS (SELECT j, clen, k,
        |    substr(name,
        |      CAST(1 + (k-1)*(clen//3) + greatest(0, k-1-(3 - clen%3)) AS INT),
        |      CAST(clen//3 + CASE WHEN k > 3 - clen%3 THEN 1 ELSE 0 END AS INT))
        |      AS seg
        |  FROM (SELECT j, name, CAST(len(name) AS INT) AS clen FROM c),
        |       (SELECT unnest([1, 2, 3]) AS k)
        |  WHERE clen >= 3),
        |cseg AS (SELECT j, clen, k, seg FROM (
        |    SELECT j, clen, k, seg,
        |      count(*) OVER (PARTITION BY clen, k, seg) AS bn FROM cseg0)
        |  WHERE bn <= 4096),
        |dsub0 AS (SELECT i, clen, k, substr(dname, st, sl) AS seg FROM (
        |   SELECT i, dname, dlen, dlen + dl AS clen, k,
        |     CAST(1 + (k-1)*((dlen+dl)//3)
        |       + greatest(0, k-1-(3-(dlen+dl)%3)) + sh AS INT) AS st,
        |     CAST((dlen+dl)//3
        |       + CASE WHEN k > 3 - (dlen+dl)%3 THEN 1 ELSE 0 END AS INT) AS sl
        |   FROM (SELECT i, dname, CAST(len(dname) AS INT) AS dlen FROM d),
        |        (SELECT unnest(generate_series(-2, 2)) AS dl),
        |        (SELECT unnest([1, 2, 3]) AS k),
        |        (SELECT unnest(generate_series(-2, 2)) AS sh))
        |  WHERE clen >= 3 AND st >= 1 AND st + sl - 1 <= dlen),
        |dsub AS (SELECT i, clen, k, seg FROM (
        |    SELECT i, clen, k, seg,
        |      count(*) OVER (PARTITION BY clen, k, seg) AS bn FROM dsub0)
        |  WHERE bn <= 4096),
        |blk AS (SELECT i, j FROM dsub JOIN cseg USING (clen, k, seg)),
        |sc AS (SELECT i, j FROM d, c
        |       WHERE len(dname) <= 4 AND len(name) <= 2),
        |cand AS (SELECT DISTINCT i, j FROM
        |  (SELECT i, j FROM blk UNION ALL SELECT i, j FROM sc))
        |SELECT i, j, CAST(levenshtein(dname, name) AS INT) AS dist
        |FROM cand JOIN d USING (i) JOIN c USING (j)
        |WHERE levenshtein(dname, name) <= 2
        |ORDER BY i, j""".stripMargin),

    // ── linear interpolation over the gap-filled tick spine: missing
    //    (event_type, hour) averages lerp between the flanking known
    //    ticks — integer cents, floor() on ≤2^53-exact doubles so both
    //    engines agree on negative slopes (Spark DIV truncates, DuckDB
    //    // floors). Spine size is tick-bounded, never input-bounded ──
    "ev_interpolate" -> QueryDef(
      (spark, dir) => {
        val k = Tables.events(spark, dir)
          .groupBy(col("event_type").as("et"),
            expr("ts_ns DIV 3600000000000").as("h"))
          // floor-on-exact-double for the average too (not just the lerp):
          // Spark DIV truncates toward zero, DuckDB // floors — they
          // diverge whenever a bucket's cents sum is negative
          .agg(expr("CAST(floor(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))" +
            " AS DOUBLE) / count(*)) AS BIGINT)").as("v"))
          .localCheckpoint(eager = false)
        val spine = k.groupBy(col("et"))
          .agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
          .select(col("et"), explode(expr("sequence(lo, hi)")).as("h"))
        val j = spine.join(k, Seq("et", "h"), "left")
        val known = when(col("v").isNotNull, struct(col("h"), col("v")))
        val wPrev = Window.partitionBy("et").orderBy("h")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wNext = Window.partitionBy("et").orderBy("h")
          .rowsBetween(1, Window.unboundedFollowing)
        j.withColumn("p", last(known, ignoreNulls = true).over(wPrev))
          .withColumn("nx", first(known, ignoreNulls = true).over(wNext))
          .select(col("et"), col("h"),
            when(col("v").isNotNull, col("v"))
              .when(col("p").isNull, col("nx.v"))
              .when(col("nx").isNull, col("p.v"))
              .otherwise(col("p.v") + floor(
                ((col("nx.v") - col("p.v")) * (col("h") - col("p.h"))).cast("double")
                  / (col("nx.h") - col("p.h")).cast("double")).cast("long"))
              .as("v_interp"),
            col("v").isNull.as("filled"))
          .orderBy(col("et"), col("h"))
      },
      """WITH k AS (SELECT event_type AS et, epoch_ns(ts) // 3600000000000 AS h,
        |    CAST(floor(CAST(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS DOUBLE) / count(*)) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |sp AS (SELECT et, unnest(generate_series(lo, hi)) AS h
        |  FROM (SELECT et, min(h) AS lo, max(h) AS hi FROM k GROUP BY 1)),
        |j AS (SELECT sp.et, sp.h, k.v FROM sp
        |  LEFT JOIN k ON sp.et = k.et AND sp.h = k.h),
        |w AS (SELECT et, h, v,
        |    last_value(CASE WHEN v IS NOT NULL THEN struct_pack(h := h, v := v) END
        |      IGNORE NULLS) OVER (PARTITION BY et ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS p,
        |    first_value(CASE WHEN v IS NOT NULL THEN struct_pack(h := h, v := v) END
        |      IGNORE NULLS) OVER (PARTITION BY et ORDER BY h
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nx
        |  FROM j)
        |SELECT et, h,
        |  CASE WHEN v IS NOT NULL THEN v
        |       WHEN p IS NULL THEN (nx).v
        |       WHEN nx IS NULL THEN (p).v
        |       ELSE (p).v + CAST(floor(CAST(((nx).v - (p).v) * (h - (p).h) AS DOUBLE)
        |         / CAST((nx).h - (p).h AS DOUBLE)) AS BIGINT) END AS v_interp,
        |  v IS NULL AS filled
        |FROM w ORDER BY et, h""".stripMargin),

    // ── leakage-safe split assignment: the split key is a hash of the
    //    GROUP (source), not the row, so every doc of a source lands in
    //    one split — eval contamination by near-dup pages from the same
    //    site cannot cross the boundary. Pure columnar + one tiny agg ──
    "train_group_split" -> QueryDef(
      (spark, dir) => Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"),
          expr("CASE CAST(conv(substring(md5(concat('gsplit:', source)), 1, 4), " +
            "16, 10) AS INT) % 10 WHEN 0 THEN 'test' WHEN 1 THEN 'val' " +
            "ELSE 'train' END").as("split"))
        .groupBy(col("split"))
        .agg(countDistinct(col("source")).cast("long").as("n_sources"),
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"))
        .orderBy(col("split")), {
        val h4 = "((strpos('0123456789abcdef', substr(md5('gsplit:' || source), 1, 1)) - 1) * 4096 " +
          "+ (strpos('0123456789abcdef', substr(md5('gsplit:' || source), 2, 1)) - 1) * 256 " +
          "+ (strpos('0123456789abcdef', substr(md5('gsplit:' || source), 3, 1)) - 1) * 16 " +
          "+ (strpos('0123456789abcdef', substr(md5('gsplit:' || source), 4, 1)) - 1))"
        s"""SELECT CASE $h4 % 10 WHEN 0 THEN 'test' WHEN 1 THEN 'val'
           |    ELSE 'train' END AS split,
           |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
           |FROM documents GROUP BY 1 ORDER BY split""".stripMargin
      }),

    // ── scene-cut detection over the stub video decode: 16 frames per
    //    item, frame energy = scene base (shared by blocks of 4) + per-
    //    frame noise; a cut fires where |Δenergy| across adjacent frames
    //    clears the threshold (lag window PARTITIONED BY ITEM — no
    //    global sort). The temporal-media twin of mm_audio_energy ──
    "mm_scene_cuts" -> QueryDef(
      (spark, dir) => {
        val energy = "CAST(conv(substring(md5(concat(CAST(pmod(doc_id, 30) AS STRING), " +
          "':', CAST(f DIV 4 AS STRING))), 1, 2), 16, 10) AS INT) * 16 + " +
          "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), '#', " +
          "CAST(f AS STRING))), 1, 1), 16, 10) AS INT)"
        val fr = Tables.documents(spark, dir)
          .filter(pmod(col("doc_id"), lit(10)) === 0)
          .select(col("doc_id"), explode(sequence(lit(0), lit(15))).as("f"))
          .withColumn("energy", expr(energy))
        val w = Window.partitionBy("doc_id").orderBy("f")
        fr.withColumn("delta", col("energy") - lag(col("energy"), 1).over(w))
          .filter(abs(col("delta")) > 256)
          .select(col("doc_id"), col("f").as("frame_idx"),
            col("delta").cast("int").as("delta"))
          .orderBy(col("doc_id"), col("frame_idx"))
      }, {
        val base = hv("CAST(doc_id % 30 AS VARCHAR) || ':' || CAST(f // 4 AS VARCHAR)")
        val noise = "(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR) " +
          "|| '#' || CAST(f AS VARCHAR)), 1, 1)) - 1)"
        s"""WITH fr AS (SELECT doc_id, f, $base * 16 + $noise AS energy
           |  FROM documents
           |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS f)
           |  WHERE doc_id % 10 = 0),
           |d AS (SELECT doc_id, f AS frame_idx,
           |    energy - lag(energy) OVER (PARTITION BY doc_id ORDER BY f) AS delta
           |  FROM fr)
           |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
           |  CAST(delta AS INT) AS delta
           |FROM d WHERE abs(delta) > 256
           |ORDER BY doc_id, frame_idx""".stripMargin
      }),

    // ── Johnson–Lindenstrauss random projection 64 → 16 dims with a
    //    deterministic ±1 md5-parity sign matrix: exact integer micro-unit
    //    sums (engine- and partitioning-invariant), unrolled per output
    //    dim into static codegen'd expressions — the cheap dimensionality
    //    reduction run before clustering/ANN at corpus scale, zero
    //    shuffles ──
    "emb_rand_proj" -> QueryDef(
      (spark, dir) => Tables.embeddings(spark, dir)
        .withColumn("vu", expr("transform(embedding, " +
          "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))"))
        .select(col("vec_id"),
          posexplode(graft.sim.Similarity.randProj("vu", 16, 64)))
        .withColumnRenamed("pos", "d").withColumnRenamed("col", "v")
        .orderBy(col("vec_id"), col("d")),
      """WITH vu AS (SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS vu
        |  FROM embeddings),
        |s AS (SELECT o, i,
        |    CASE WHEN strpos('01234567', substr(md5('rp:' || CAST(o AS VARCHAR)
        |      || ':' || CAST(i AS VARCHAR)), 1, 1)) > 0 THEN 1 ELSE -1 END AS sgn
        |  FROM (SELECT unnest(generate_series(0, 15)) AS o)
        |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS i))
        |SELECT vec_id, CAST(o AS INT) AS d,
        |  CAST(sum(sgn * vu[i + 1]) AS BIGINT) AS v
        |FROM vu CROSS JOIN s
        |GROUP BY 1, 2 ORDER BY vec_id, d""".stripMargin),

    // ── Matryoshka-truncation audit: recall@5 of the 16-dim PREFIX
    //    embedding's top-k against the full 64-dim top-k, per query —
    //    the measurement that decides whether truncated vectors are safe
    //    for the cheap first-pass retrieval tier (MRL-style serving).
    //    Both rankings are exact brute force over the 2% query sample
    //    with the rounded-sim/id tiebreak, so the oracle replays them ──
    "emb_mrl_recall" -> QueryDef(
      (spark, dir) => {
        val e = Tables.embeddings(spark, dir)
        val isQ = pmod(col("vec_id"), lit(50)) === 0
        val full = graft.sim.Similarity.topK(e.filter(isQ), e, 5)
          .select(col("qid"), col("nid"))
        val pre = {
          val t = e.select(col("vec_id"),
            slice(col("embedding"), 1, 16).as("embedding"))
          graft.sim.Similarity.topK(t.filter(isQ), t, 5)
            .select(col("qid").as("q2"), col("nid").as("n2"))
        }
        val overlap = full.join(pre,
            col("qid") === col("q2") && col("nid") === col("n2"))
          .groupBy(col("qid")).agg(count(lit(1)).as("recall5"))
        e.filter(isQ).select(col("vec_id").as("qid"))
          .join(overlap, Seq("qid"), "left")
          .select(col("qid"), coalesce(col("recall5"), lit(0L)).as("recall5"))
          .orderBy(col("qid"))
      }, {
        def rankSql(vec: String) =
          s"""SELECT qid, nid FROM (
             |  SELECT q.vec_id AS qid, c.vec_id AS nid,
             |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
             |      floor(list_inner_product(CAST(q.$vec AS DOUBLE[]),
             |        CAST(c.$vec AS DOUBLE[])) * 1000000.0 + 0.5) / 1000000.0
             |      DESC, c.vec_id) AS rank
             |  FROM embeddings q JOIN embeddings c
             |    ON q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id)
             |WHERE rank <= 5""".stripMargin
        s"""WITH fullk AS (${rankSql("embedding")}),
           |prek AS (${rankSql("embedding[1:16]")}),
           |ov AS (SELECT f.qid, CAST(count(*) AS BIGINT) AS recall5
           |  FROM fullk f JOIN prek p ON f.qid = p.qid AND f.nid = p.nid
           |  GROUP BY 1)
           |SELECT q.vec_id AS qid, coalesce(ov.recall5, 0) AS recall5
           |FROM embeddings q LEFT JOIN ov ON q.vec_id = ov.qid
           |WHERE q.vec_id % 50 = 0 ORDER BY qid""".stripMargin
      }),

    // ── hard-negative mining (contrastive-training sampler): per query,
    //    top-3 most-similar vectors with a DIFFERENT label — exact over
    //    the 2% query sample (the documented brute-force baseline shape;
    //    the scale path rides the LSH bucket join with the label filter
    //    on the candidates) ──
    "ann_hard_negatives" -> QueryDef(
      (spark, dir) => {
        val e = Tables.embeddings(spark, dir)
        graft.sim.Similarity.hardNegatives(
            e.filter(pmod(col("vec_id"), lit(50)) === 0), e, 3)
          .orderBy(col("qid"), col("rank"))
      },
      """WITH s AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS nid,
        |    floor(list_inner_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
        |      * 1000000.0 + 0.5) / 1000000.0 AS sim
        |  FROM embeddings q JOIN embeddings c
        |    ON q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id
        |      AND q.label <> c.label)
        |SELECT qid, nid, sim, CAST(rank AS INT) AS rank FROM (
        |  SELECT qid, nid, sim,
        |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
        |  FROM s)
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin),

    // ── data-quality constraint gate (Deequ-style): per-table row
    //    constraints fold into ONE map-combined pass per table (sum of
    //    CASEs — no per-constraint scans); referential integrity is a
    //    broadcast anti-join count, key uniqueness one hash agg at the
    //    key grain. The pass/fail table a 100 TB ingest job checks
    //    before publishing a partition ──
    "q_quality_checks" -> QueryDef(
      (spark, dir) => {
        val li = Tables.lineitem(spark, dir)
        val o = Tables.orders(spark, dir)
        val rowChecks = li.agg(
          sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
            .otherwise(0L)).as("l_quantity_range"),
          sum(when(col("l_orderkey").isNull, 1L).otherwise(0L))
            .as("l_orderkey_not_null"),
          sum(when(col("l_extendedprice") <= 0, 1L).otherwise(0L))
            .as("l_extendedprice_positive"))
        val orderChecks = o.agg(
          sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L))
            .as("o_totalprice_positive"))
        val orphans = li.join(o, col("l_orderkey") === col("o_orderkey"),
            "left_anti")
          .agg(count(lit(1)).as("orphan_lineitems"))
        val dupKeys = li.groupBy(col("l_orderkey"), col("l_linenumber"))
          .agg(count(lit(1)).as("n"))
          .agg(sum(when(col("n") > 1, 1L).otherwise(0L)).as("dup_line_keys"))
        val unpivoted = rowChecks.crossJoin(orderChecks).crossJoin(orphans)
          .crossJoin(dupKeys)
          .select(expr("stack(6, " +
            "'l_quantity_range', l_quantity_range, " +
            "'l_orderkey_not_null', l_orderkey_not_null, " +
            "'l_extendedprice_positive', l_extendedprice_positive, " +
            "'o_totalprice_positive', o_totalprice_positive, " +
            "'orphan_lineitems', orphan_lineitems, " +
            "'dup_line_keys', dup_line_keys) AS (constraint, n_violations)"))
        unpivoted.withColumn("pass", col("n_violations") === 0L)
          .orderBy(col("constraint"))
      },
      """WITH row_checks AS (SELECT
        |    CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS l_quantity_range,
        |    CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS l_orderkey_not_null,
        |    CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS l_extendedprice_positive
        |  FROM lineitem),
        |order_checks AS (SELECT
        |    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS o_totalprice_positive
        |  FROM orders),
        |orphans AS (SELECT CAST(count(*) AS BIGINT) AS orphan_lineitems
        |  FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
        |dup AS (SELECT CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_line_keys
        |  FROM (SELECT l_orderkey, l_linenumber, count(*) AS n
        |        FROM lineitem GROUP BY 1, 2)),
        |u AS (
        |  SELECT 'l_quantity_range' AS constraint, l_quantity_range AS n_violations FROM row_checks
        |  UNION ALL SELECT 'l_orderkey_not_null', l_orderkey_not_null FROM row_checks
        |  UNION ALL SELECT 'l_extendedprice_positive', l_extendedprice_positive FROM row_checks
        |  UNION ALL SELECT 'o_totalprice_positive', o_totalprice_positive FROM order_checks
        |  UNION ALL SELECT 'orphan_lineitems', orphan_lineitems FROM orphans
        |  UNION ALL SELECT 'dup_line_keys', dup_line_keys FROM dup)
        |SELECT "constraint", n_violations, n_violations = 0 AS pass
        |FROM u ORDER BY "constraint"""".stripMargin),

    // ── sitemap.xml round-trip (robots' companion in the crawl-ingest
    //    pair): render each host's urlset from planted (loc, lastmod,
    //    priority) rows — one string_agg per host, entries sorted by
    //    path — then recover every field with scan-local regexp group
    //    extraction (arrays_zip of per-group extract_all; no XML lib,
    //    no shuffle beyond the per-host render). The oracle generates
    //    the planted rows directly, so the hash match proves
    //    parse(render(x)) == x. At crawl scale sitemaps are per-host
    //    documents: the parse rides the scan, and the output joins the
    //    frontier at URL grain ──
    "web_sitemap_parse" -> QueryDef(
      (spark, dir) => {
        val docs = Tables.documents(spark, dir)
        val entries = docs.select(
          concat(lit("site"), (col("doc_id") % 9).cast("string"),
            lit(".com")).as("host"),
          concat(lit("/p/"), col("doc_id").cast("string")).as("path"),
          concat(lit("2026-01-"),
            lpad((col("doc_id") % 28 + 1).cast("string"), 2, "0"))
            .as("lastmod"),
          concat(lit("0."), (col("doc_id") % 10).cast("string"))
            .as("priority"))
        val rendered = entries
          .select(col("host"), struct(col("path"), concat(
            lit("<url><loc>https://"), col("host"), col("path"),
            lit("</loc><lastmod>"), col("lastmod"),
            lit("</lastmod><priority>"), col("priority"),
            lit("</priority></url>")).as("block")).as("e"))
          .groupBy(col("host"))
          .agg(concat(lit("<?xml version=\"1.0\"?><urlset>"),
            concat_ws("", transform(array_sort(collect_list(col("e"))),
              x => x.getField("block"))),
            lit("</urlset>")).as("xml"))
        val pat = "<url><loc>([^<]*)</loc><lastmod>([^<]*)</lastmod>" +
          "<priority>([^<]*)</priority></url>"
        rendered
          .select(col("host"), explode(arrays_zip(
            regexp_extract_all(col("xml"), lit(pat), lit(1)),
            regexp_extract_all(col("xml"), lit(pat), lit(2)),
            regexp_extract_all(col("xml"), lit(pat), lit(3)))).as("u"))
          .select(col("host"), col("u.0").as("loc"),
            col("u.1").as("lastmod"), col("u.2").as("priority"))
          .orderBy(col("loc"))
      },
      """SELECT 'site' || CAST(doc_id % 9 AS VARCHAR) || '.com' AS host,
        |  'https://site' || CAST(doc_id % 9 AS VARCHAR) || '.com/p/' ||
        |    CAST(doc_id AS VARCHAR) AS loc,
        |  '2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |    AS lastmod,
        |  '0.' || CAST(doc_id % 10 AS VARCHAR) AS priority
        |FROM documents ORDER BY loc""".stripMargin),

    // ── incremental aggregate maintenance (materialized-view upkeep):
    //    the standing per-key aggregate absorbs a delta batch by merging
    //    PARTIAL aggregates — count and sum are decomposable, so the
    //    merge is a full-outer key join + coalesced sums over two TINY
    //    agg frames. The 100 TB pattern where re-aggregating history per
    //    batch is impossible; the oracle recomputes from scratch, so the
    //    hash match IS the proof that incremental == full recompute.
    //    ("base" = even epoch-days, "delta" = odd — a deterministic
    //    batch boundary with no data-dependent constants.) ──
    "ev_incr_agg" -> QueryDef(
      (spark, dir) => {
        val e = Tables.events(spark, dir)
          .withColumn("day", expr("ts_ns DIV 86400000000000"))
          .withColumn("cents", expr("CAST(floor(value * 100 + 0.5) AS BIGINT)"))
        def part(p: Int) = e.filter(pmod(col("day"), lit(2)) === p)
          .groupBy(col("event_type").as("et"))
          .agg(count(lit(1)).as(s"cnt_$p"), sum(col("cents")).as(s"sum_$p"))
          .localCheckpoint(eager = false)
        part(0).join(part(1), Seq("et"), "full_outer")
          .select(col("et"),
            (coalesce(col("cnt_0"), lit(0L)) + coalesce(col("cnt_1"), lit(0L)))
              .as("cnt"),
            (coalesce(col("sum_0"), lit(0L)) + coalesce(col("sum_1"), lit(0L)))
              .as("sum_cents"))
          .orderBy(col("et"))
      },
      """SELECT event_type AS et, count(*) AS cnt,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1 ORDER BY et""".stripMargin))
}
