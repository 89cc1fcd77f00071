package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables
import graft.text.TextOps
import graft.dedup.Dedup
import graft.sim.Similarity

/** Set by Verify before queries run so data-dependent oracle SQL (the IVF
  * quantizer's centroids are trained from the corpus) can be generated in
  * the same process that executed the queries. When unset, those oracles
  * are omitted and the driver records a rows-only check. */
object OracleContext {
  @volatile var session: Option[(SparkSession, String)] = None
}

/** LLM-training-pipeline coverage (SURVEY.md §2 rows 57–67): dedup,
  * similarity search and text analysis over the `documents` /
  * `embeddings` tables.
  *
  * Near-dup queries plant duplicates deterministically FROM the provided
  * tables (doc text minus its first token / embedding with a perturbed
  * first component, ids offset by 1e6) so the detectors have planted truth
  * to find at every scale factor.
  *
  * Oracle strategy (every query below hash-checks against DuckDB):
  *  - minhash / jaccard / cosine dedup: brute-force pair enumeration with
  *    the SAME thresholds. Sound because the LSH candidate stages are
  *    deterministic and tuned for recall 1.0 at these thresholds (banded
  *    OR-amplification; verified empirically at sf 0.001/0.01/0.1), so
  *    detected pairs == all pairs above threshold.
  *  - simhash: the oracle REPLICATES the signature bit-for-bit — the
  *    per-token hash is md5-derived (the one hash both engines compute
  *    identically), so SQL rebuilds every signature and enumerates pairs
  *    within the Hamming radius; the pigeonhole chunk join has guaranteed
  *    (not probabilistic) recall, so the sets match by construction.
  *  - ann_lsh: the hyperplanes are deterministic seeded constants; the
  *    oracle embeds them as SQL literals and replays bucketing + band
  *    join + cosine rank exactly (dot products sum in the same order on
  *    both sides, so the sign bits agree).
  *  - ann_ivf: centroids are trained once per (process, sfDir) and shared
  *    between the query and a runtime-generated oracle that embeds them
  *    as literals and replays cell assignment + probing + rank.
  */
object PipelineQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Scale-adaptive WARC segment cap for the crawl/WET pipelines: one
    * segment per core at the current corpus size, clamped to [128 KB,
    * 1 GB] — the 1 GB ceiling is the Common-Crawl segment convention at
    * scale, the floor keeps tiny corpora from fragmenting into
    * thousands of near-empty files. Derived from the source table's
    * on-disk size (driver-side stat, no job) so the same code yields
    * full read-back parallelism at sf0.1 and ~1 GB segments at 100 TB
    * (guide §2: derive partitioning from input size, not a constant). */
  private def warcSegmentBytes(s: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(Tables.path(dir, "documents"))
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val sz = fs.getContentSummary(p).getLength
    math.min(1L << 30,
      math.max(128L << 10, sz / math.max(1, s.sparkContext.defaultParallelism)))
  }

  /** documents ∪ near-dup copies (first token dropped, id+1_000_000). */
  def plantedDocs(docs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val dup = docs.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat_ws(" ", slice(toks, lit(2), greatest(size(toks) - 1, lit(1)))).as("text"))
    docs.select(col("doc_id"), col("text")).union(dup)
  }

  /** embeddings ∪ perturbed copies (first component +0.001, id+1_000_000). */
  def plantedVecs(emb: DataFrame): DataFrame = {
    val pert = emb.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding").cast(ArrayType(DoubleType)),
        (x, i) => when(i === 0, x + 0.001).otherwise(x)).as("embedding"))
    emb.select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)))
      .union(pert)
  }

  // ---- planted HTML page (q_html_extract / q_html_links) --------------------
  /** Deterministic markup wrapped around each document's entity-escaped
    * text: head+script boilerplate, a nav with two anchors, a comment, an
    * article body, a footer with entities. [[htmlPlantSql]] is the
    * character-identical DuckDB twin. */
  private[queries] def plantedHtml: org.apache.spark.sql.Column = {
    val esc = replace(replace(replace(col("text"),
      lit("&"), lit("&amp;")), lit("<"), lit("&lt;")), lit(">"), lit("&gt;"))
    concat(
      lit("<html><head><title>doc "), col("doc_id"),
      lit("</title><script>track("), col("doc_id"),
      lit(");</script></head><body><nav><a href=\"/\">Home</a> &middot; " +
        "<a href=\"/doc/"), col("doc_id"),
      lit("\">Self</a> <a href=\"http://mirror"), col("doc_id") % 7,
      lit(".example.org/doc/"), col("doc_id"),
      lit("\">Mirror</a></nav><!-- id "), col("doc_id"),
      lit(" --><article><p>"), esc,
      lit("</p></article><footer>&copy; 2026 Graft &amp; Co" +
        "</footer></body></html>"))
  }

  private def htmlPlantSql: String =
    "concat('<html><head><title>doc ', doc_id, '</title><script>track(', " +
    "doc_id, ');</script></head><body><nav><a href=\"/\">Home</a> " +
    "&middot; <a href=\"/doc/', doc_id, '\">Self</a> " +
    "<a href=\"http://mirror', doc_id % 7, '.example.org/doc/', doc_id, " +
    "'\">Mirror</a></nav><!-- id ', doc_id, ' --><article><p>', " +
    "replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), " +
    "'>', '&gt;'), '</p></article><footer>&copy; 2026 Graft &amp; Co" +
    "</footer></body></html>')"

  // ---- multi-pattern scan patterns (q_contains_any) ------------------------
  /** Literal pattern set for the Aho–Corasick scan, chosen to exercise
    * every automaton feature against the documents vocabulary: nested
    * patterns ("hash join" ⊃ "join"), patterns sharing borders ("scan
    * slow" / "slow"), a pattern that is a proper substring of another's
    * interior ("ash jo"), and one guaranteed absent ("spark sql xyz").
    * ONE constant shared by engine and oracle — declaration order is the
    * output order on both sides. */
  private[queries] val scanPatterns: Seq[String] = Seq(
    "hash join", "join", "ash jo", "scan slow", "slow", "merge sort",
    "table value", "value", "spark sql xyz")

  // ---- shared oracle SQL for api + dialect twins -----------------------------
  private val outliersOracleSql =
    """WITH m AS (SELECT doc_id, lang, n_chars,
         median(n_chars) OVER (PARTITION BY lang) AS med
       FROM documents),
       d AS (SELECT *, median(abs(n_chars - med))
               OVER (PARTITION BY lang) AS mad
             FROM m)
       SELECT doc_id, lang, n_chars FROM d
       WHERE abs(n_chars - med) > 2.0 * mad"""

  private val corpusDiffOracleSql =
    """WITH a AS (SELECT doc_id, text FROM documents),
       b AS (SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
                    ELSE text END AS text
             FROM documents WHERE doc_id % 7 <> 0
             UNION ALL
             SELECT doc_id + 1000000, text FROM documents
             WHERE doc_id % 11 = 0),
       j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
               CASE WHEN a.doc_id IS NULL THEN 'added'
                    WHEN b.doc_id IS NULL THEN 'removed'
                    WHEN md5(a.text) IS DISTINCT FROM md5(b.text)
                      THEN 'changed'
               END AS status
             FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
       SELECT doc_id, status FROM j WHERE status IS NOT NULL"""

  /** The derived second corpus version q_corpus_diff / q_pig_diff diff
    * against: deletions at %7, edits at %5, additions at %11 shifted
    * past the id space — ONE derivation for both twins. */
  private def diffV2(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.where(pmod(col("doc_id"), lit(7L)) =!= 0L)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5L)) === 0L,
          concat(col("text"), lit(" v2"))).otherwise(col("text"))
          .as("text"))
      .unionByName(docs.where(pmod(col("doc_id"), lit(11L)) === 0L)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))

  // ---- planted robots policies (q_robots) -----------------------------------
  /** Rule constants shared by the planted robots.txt bodies (engine
    * side) and the oracle's VALUES table: per policy, (allow, pattern)
    * pairs for the `graftbot` group. Policy 1 denies everything,
    * policy 2 has an empty group (allow-all), policies 0/3 exercise
    * longest-prefix override and the equal-length Allow-wins tie.
    * Policies 4/5 exercise RFC 9309 §2.2.3 special characters: `*`
    * mid-pattern wildcards (the slash-star `?sid=` session-id class a
    * literal-prefix matcher silently ALLOWS) and trailing-`$` anchors,
    * each against shorter literal decoys the wildcard must outrank.
    * q_crawl_pipeline keeps pids 0–3 (mirror hosts mod 4), so its
    * starts_with oracle replay stays valid; the wildcard policies are
    * exercised by q_robots (pid = doc_id mod 6). */
  private val robotsPolicies: Seq[Seq[(Boolean, String)]] = Seq(
    Seq((false, "/private"), (true, "/private/pub"), (false, "/tmp")),
    Seq((false, "/")),
    // the /doc rule never matches q_robots's planted paths (kept
    // effectively empty there) but gates the crawl pipeline's mirror
    // links (q_crawl_pipeline)
    Seq((false, "/doc")),
    Seq((true, "/a"), (false, "/a"), (false, "/a/b")),
    // wildcards: deny any session-id URL and /p/<x>/tmp/ subtrees, but
    // a bare "/p" allow catches everything else under /p
    Seq((false, "/*?sid="), (true, "/p"), (false, "/p/*/tmp/")),
    // anchors: deny .exe downloads (but not .exe.txt), deny the exact
    // /logout page (but not /logout/<x>), allow /dl/ otherwise
    Seq((false, "/dl/*.exe$"), (true, "/dl/"), (false, "/logout$")))

  /** Per-policy crawl metadata constants (shared with the q_robots_meta
    * oracle): global `Sitemap:` URLs and the graftbot group's
    * `Crawl-delay:` (None → no line → NULL). The decoy OtherBot group
    * always carries `Crawl-delay: 99`, which group selection must skip. */
  private val robotsSitemaps: Seq[Seq[String]] = Seq(
    Seq("https://h0.example.org/sitemap.xml"),
    Seq.empty,
    Seq("https://h2.example.org/s1.xml", "https://h2.example.org/s2.xml"),
    Seq.empty,
    Seq("https://h4.example.org/map.xml"),
    Seq.empty)
  private val robotsDelays: Seq[Option[Double]] =
    Seq(Some(5.0), None, Some(2.5), Some(10.0), None, Some(1.5))

  /** Hostile-but-valid robots.txt body for policy `i`: a decoy deny-all
    * group for another agent (with its own decoy crawl-delay), mixed-
    * case keys, comments, blank and empty-Disallow lines, sitemap lines
    * both before the groups and at the end (global either way) — the
    * PARSER is exercised here; the decision rules, sitemaps and delay
    * stay the shared constants. */
  private def robotsTextFor(rules: Seq[(Boolean, String)],
                            i: Int = -1): String = {
    val ruleLines = rules.map { case (allow, p) =>
      (if (allow) "Allow: " else "DISALLOW:   ") + p }
    val smaps = if (i >= 0) robotsSitemaps(i) else Seq.empty
    val head = smaps.headOption.map(u => s"SITEMAP: $u  # seed").toSeq
    val tail = smaps.drop(1).map(u => s"Sitemap: $u")
    val delay = if (i >= 0) robotsDelays(i).map(d => s"Crawl-delay: $d").toSeq
                else Seq("Crawl-delay: 5")
    (Seq("# planted policy") ++ head ++
      Seq("User-agent: OtherBot", "Disallow: /", "Crawl-delay: 99", "") ++
      Seq("USER-AGENT: GraftBot  # ours") ++ ruleLines ++
      Seq("Disallow:") ++ delay ++ tail).mkString("\n")
  }

  /** Planted url path per doc, cycling every decision class the six
    * policies distinguish — including the wildcard classes (session-id
    * query strings, nested /tmp/ subtrees) and the anchor classes
    * (.exe vs .exe.txt suffixes, exact-page vs subtree logout). 13
    * variants: coprime with the 6 policies, so doc_id cycling covers
    * every (policy, path-class) combination. ONE (Column, SQL) list —
    * engine and oracle cannot drift. */
  private val robotsPathVariants: Seq[(org.apache.spark.sql.Column, String)] =
    Seq(
      (concat(lit("/private/pub/"), col("doc_id")),
        "'/private/pub/' || doc_id"),
      (concat(lit("/private/"), col("doc_id")), "'/private/' || doc_id"),
      (concat(lit("/tmp/"), col("doc_id")), "'/tmp/' || doc_id"),
      (lit("/a"), "'/a'"),
      (concat(lit("/a/b/"), col("doc_id")), "'/a/b/' || doc_id"),
      (concat(lit("/open/"), col("doc_id")), "'/open/' || doc_id"),
      (lit("/"), "'/'"),
      (concat(lit("/p/"), col("doc_id"), lit("?sid=9")),
        "'/p/' || doc_id || '?sid=9'"),
      (concat(lit("/p/"), col("doc_id"), lit("/tmp/f")),
        "'/p/' || doc_id || '/tmp/f'"),
      (concat(lit("/dl/f"), col("doc_id"), lit(".exe")),
        "'/dl/f' || doc_id || '.exe'"),
      (concat(lit("/dl/f"), col("doc_id"), lit(".exe.txt")),
        "'/dl/f' || doc_id || '.exe.txt'"),
      (lit("/logout"), "'/logout'"),
      (concat(lit("/logout/"), col("doc_id")), "'/logout/' || doc_id"))
  private def robotsPath: org.apache.spark.sql.Column =
    robotsPathVariants.zipWithIndex.foldRight(
      lit(""): org.apache.spark.sql.Column) { case (((c, _), i), acc) =>
      when(pmod(col("doc_id"), lit(robotsPathVariants.size)) === i, c)
        .otherwise(acc) }
  private def robotsPathSql: String =
    robotsPathVariants.zipWithIndex.map { case ((_, s), i) =>
      s"WHEN doc_id % ${robotsPathVariants.size} = $i THEN $s" }
      .mkString("CASE ", " ", " ELSE '' END")

  /** Shared crawl-schedule oracle (api + dialect twins): same delay
    * constants, 1 s default applied where None; integer-ms offsets
    * replay exactly. */
  private def crawlScheduleOracleSql: String = {
    val delayRows = robotsPolicies.indices.map { i =>
      s"($i, ${robotsDelays(i).getOrElse(1.0)})" }
    s"""WITH u AS (SELECT doc_id,
           doc_id % ${robotsPolicies.size} AS pid FROM documents),
       d(pid, delay) AS (VALUES ${delayRows.mkString(", ")}),
       f AS (SELECT 'mirror' || u.pid || '.example.org' AS host,
                    '/p/' || doc_id AS url, d.delay
             FROM u JOIN d USING (pid)),
       r AS (SELECT host, url,
               row_number() OVER (PARTITION BY host ORDER BY url) - 1
                 AS slot,
               CAST(round(delay * 1000) AS BIGINT) AS dms
             FROM f)
       SELECT host, url, CAST(slot AS BIGINT) AS slot,
              CAST(slot * dms AS BIGINT) AS fetch_at_ms FROM r"""
  }

  /** Shared split oracle (batch + streaming twins): md5 bucket ->
    * 80/10/10 assignment. */
  private[queries] def splitHashOracleSql: String =
    """SELECT doc_id, lang,
         CASE WHEN b < 80 THEN 'train'
              WHEN b < 90 THEN 'val' ELSE 'test' END AS split
       FROM (SELECT doc_id, lang,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b
       FROM documents)"""

  /** Shared overlap oracle (api + dialect twins): distinct-token sets
    * per side, inner-join count, inclusion-free jaccard. */
  private def overlapOracleSql: String =
    """WITH a AS (SELECT DISTINCT unnest(list_filter(
           string_split_regex(lower(text), '\s+'), x -> x <> ''))
           AS k FROM documents WHERE lang = 'en'),
       b AS (SELECT DISTINCT unnest(list_filter(
           string_split_regex(lower(text), '\s+'), x -> x <> ''))
           AS k FROM documents WHERE lang <> 'en'),
       c AS (SELECT count(*) AS n_common FROM a JOIN b USING (k))
       SELECT (SELECT count(*) FROM a) AS n_a,
              (SELECT count(*) FROM b) AS n_b,
              c.n_common,
              CAST(c.n_common AS DOUBLE) /
                CAST((SELECT count(*) FROM a) +
                     (SELECT count(*) FROM b) - c.n_common AS DOUBLE)
                AS jaccard
       FROM c"""

  /** DuckDB regex replaying one robots rule pattern's RFC 9309 §2.2.3
    * semantics: `^`-anchored (prefix match), `*` → `.*`, a single
    * trailing `$` → regex end anchor, everything else escaped literal.
    * Derived from the SAME pattern constants the planted bodies print,
    * so engine matcher and oracle replay cannot drift. */
  private def robotsRegexSql(pattern: String): String = {
    val anchored = pattern.endsWith("$")
    val body = if (anchored) pattern.dropRight(1) else pattern
    val esc = body.flatMap {
      case '*' => ".*"
      case c if "\\^$.|?+()[]{}".contains(c) => "\\" + c
      case c => c.toString
    }
    "^" + esc + (if (anchored) "$" else "")
  }

  // ---- planted messy URLs (q_url_canon) -------------------------------------
  /** Deterministic messy URL per doc, cycling through the rule classes
    * [[graft.text.Url.canonicalizeUrl]] must handle: mixed-case scheme/
    * host, default + non-default ports, fragments, tracker params in
    * every position, scheme-less passthrough, empty paths. Variant (id,
    * SQL twin) pairs are ONE list so engine and oracle cannot drift. */
  private val urlVariants: Seq[(org.apache.spark.sql.Column, String)] = Seq(
    (concat(lit("HTTP://Example.COM:80/path/Page?id="), col("doc_id"),
      lit("&utm_source=x&utm_medium=y#frag")),
      "'HTTP://Example.COM:80/path/Page?id=' || doc_id || " +
        "'&utm_source=x&utm_medium=y#frag'"),
    (concat(lit("https://WWW.Example.org:443/?gclid=abc&q="), col("doc_id")),
      "'https://WWW.Example.org:443/?gclid=abc&q=' || doc_id"),
    (concat(lit("http://example.net/a/b/"), col("doc_id")),
      "'http://example.net/a/b/' || doc_id"),
    (concat(lit("https://sub.Example.com/p?a="), col("doc_id"),
      lit("&fbclid=zz&b=2")),
      "'https://sub.Example.com/p?a=' || doc_id || '&fbclid=zz&b=2'"),
    (concat(lit("http://example.com:8080/Keep:Port?x="), col("doc_id")),
      "'http://example.com:8080/Keep:Port?x=' || doc_id"),
    (concat(lit("  example.com/no-scheme?utm_campaign=c&i="),
      col("doc_id"), lit("  ")),
      "'  example.com/no-scheme?utm_campaign=c&i=' || doc_id || '  '"),
    (lit("http://Example.com#only-frag"),
      "'http://Example.com#only-frag'"),
    (concat(lit("https://example.com/p?utm_source=a&utm_term="),
      col("doc_id"), lit("&utm_content=c")),
      "'https://example.com/p?utm_source=a&utm_term=' || doc_id || " +
        "'&utm_content=c'"))

  private[queries] def plantedUrl: org.apache.spark.sql.Column =
    urlVariants.zipWithIndex.foldLeft(
        org.apache.spark.sql.functions.when(lit(false), lit(""))) {
      case (acc, ((c, _), i)) => acc.when(col("doc_id") % 8 === i, c)
    }.otherwise(lit(""))

  private def urlPlantSql: String =
    "(CASE " + urlVariants.zipWithIndex.map { case ((_, sql), i) =>
      s"WHEN doc_id % 8 = $i THEN $sql" }.mkString(" ") + " ELSE '' END)"

  /** DuckDB replay of [[graft.text.Html.extractText]], generated from
    * the same dropBlocks/blockTags/namedEntities constants. */
  private def htmlExtractSql(src: String): String = {
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    def rr(c: String, pat: String, repl: String) =
      s"regexp_replace($c, ${q(pat)}, $repl, 'g')"
    var c = rr(src, "(?s)<!--.*?-->", "''")
    for (tg <- graft.text.Html.dropBlocks)
      c = rr(c, s"(?is)<$tg\\b[^>]*>.*?</$tg>", "''")
    c = rr(c, s"(?i)</?(${graft.text.Html.blockTags})\\b[^>]*>", "chr(10)")
    c = rr(c, "<[^>]+>", "''")
    for ((e, r) <- graft.text.Html.namedEntities)
      c = s"replace($c, ${q(e)}, ${q(r)})"
    c = s"replace($c, '&amp;', '&')"
    c = rr(c, "[ \\t]+", "' '")
    c = rr(c, " ?\\n ?", "chr(10)")
    c = rr(c, "\\n{3,}", "chr(10)||chr(10)")
    rr(c, "^\\s+|\\s+$", "''")
  }

  /** DuckDB replay of [[graft.graph.PageRank.pageRank]] over the
    * q_pagerank derived edge graph — the recurrence unrolled one CTE
    * per iteration (integer `//` floor-division everywhere, so the sum
    * order never matters). HUGEINT sums cast back to BIGINT at each
    * rank projection. */
  private[queries] def pageRankOracle(iters: Int): String = {
    val head =
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
         e AS (SELECT doc_id AS src, (doc_id*31 + k*1009) % (m+1) AS dst
               FROM documents, mx, (SELECT unnest([1,2,3]) AS k)),
         deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         o AS (SELECT e.src, e.dst, d.deg FROM e JOIN deg d
               ON e.src = d.src),
         nodes AS (SELECT DISTINCT id FROM
           (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         r0 AS (SELECT id, 1000000000::BIGINT AS rank FROM nodes)"""
    val steps = (1 to iters).map { i =>
      s"""r$i AS (SELECT n.id,
           (150000000 + 85 * coalesce(c.contrib, 0) // 100)::BIGINT AS rank
         FROM nodes n LEFT JOIN (
           SELECT o.dst AS id, sum(r.rank // o.deg) AS contrib
           FROM o JOIN r${i - 1} r ON o.src = r.id GROUP BY 1) c
         ON n.id = c.id)"""
    }
    (head +: steps).mkString(",\n") + s"\nSELECT id, rank FROM r$iters"
  }

  /** Damage suffix for q_mojibake — every family of
    * [[graft.text.TextOps.mojibakeTable]] appears (incl. the ÃY→ß
    * control-char pair and the Â+nbsp space). */
  private[queries] val MojibakePlant: String =
    " CafÃ© â€” â€œnaÃ¯veâ€¦ 25Â° Ã©lÃ¨ve straÃe MÃ¼ller" +
      " Â«Ã±Â» climÃ¡tico maÃ§Ã£?" // maçã keeps an unmapped Ã£ intact

  /** The q_mojibake oracle: the identical replace fold, generated from
    * the same table. */
  private[queries] lazy val mojibakeOracle: String = {
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    val folded = graft.text.TextOps.mojibakeTable.foldLeft(
      s"text || ${q(MojibakePlant)}") { case (c, (bad, good)) =>
        s"replace($c, ${q(bad)}, ${q(good)})" }
    s"SELECT doc_id, $folded AS fixed FROM documents"
  }

  /** q_script oracle — the same per-script strip counts (RE2 spells the
    * property `\p{Latin}` where Java says `\p{IsLatin}` — same Script
    * semantics) and the same priority-ordered dominance CASE chain,
    * generated from TextOps.scriptNames. */
  private[queries] lazy val scriptOracle: String = {
    def cnt(src: String, sc: String) =
      s"length(regexp_replace($src, '[^\\p{$sc}]', '', 'g'))"
    val names = graft.text.TextOps.scriptNames
    val maxAll = "greatest(" +
      names.map(sc => cnt("sfx", sc)).mkString(", ") + ")"
    val dom = "CASE " + names.map { sc =>
      s"WHEN ${cnt("sfx", sc)} > 0 AND ${cnt("sfx", sc)} = $maxAll " +
        s"THEN '${sc.toLowerCase}'"
    }.mkString(" ") + " ELSE 'none' END"
    s"""WITH d AS (SELECT doc_id,
           CASE WHEN doc_id % 4 = 1 THEN 'привет мир святой'
                WHEN doc_id % 4 = 2 THEN 'γειά σου κόσμος'
                WHEN doc_id % 4 = 3 THEN '你好世界汉字'
                ELSE '' END AS sfx,
           text || ' ' || CASE WHEN doc_id % 4 = 1 THEN 'привет мир святой'
                WHEN doc_id % 4 = 2 THEN 'γειά σου κόσμος'
                WHEN doc_id % 4 = 3 THEN '你好世界汉字'
                ELSE '' END AS p
         FROM documents)
       SELECT doc_id,
         ${cnt("p", "Latin")} AS latin_chars,
         ${cnt("p", "Cyrillic")} AS cyrillic_chars,
         ${cnt("p", "Greek")} AS greek_chars,
         ${cnt("p", "Han")} AS han_chars,
         $dom AS suffix_script
       FROM d"""
  }

  /** q_connected_components / q_pig_cc oracle: the 16-chain edge
    * derivation has closed-form components (no CC replay needed). */
  private[queries] val ccOracle: String =
    """WITH e AS (SELECT doc_id AS a, doc_id - 1 AS b FROM documents
           WHERE doc_id % 16 <> 0),
       nodes AS (SELECT DISTINCT id FROM
         (SELECT a AS id FROM e UNION ALL SELECT b AS id FROM e))
       SELECT id, id - id % 16 AS label FROM nodes"""

  /** The q_html_extract / q_pig_html oracle (shared with MiscQueries). */
  private[queries] lazy val htmlExtractOracle: String =
    s"""WITH h AS (SELECT doc_id, $htmlPlantSql AS page FROM documents)
       SELECT doc_id, ${htmlExtractSql("page")} AS clean,
         ${linkDensitySql("page")} AS link_density
       FROM h"""

  /** DuckDB replay of [[graft.text.Html.linkDensity]]. */
  private def linkDensitySql(h: String): String = {
    val anchor = "coalesce(list_sum(list_transform(regexp_extract_all(" +
      h + ", '(?is)<a\\b[^>]*>(.*?)</a>', 1), " +
      "a -> length(regexp_replace(a, '<[^>]+>', '', 'g')))), 0)"
    val strip = graft.text.Html.dropBlocks.foldLeft(
      s"regexp_replace($h, '(?s)<!--.*?-->', '', 'g')") { (c, tg) =>
        s"regexp_replace($c, '(?is)<$tg\\b[^>]*>.*?</$tg>', '', 'g')" }
    val total = s"length(regexp_replace($strip, '<[^>]+>', '', 'g'))"
    s"least(CAST(1.0 AS DOUBLE), CAST($anchor AS DOUBLE) / " +
      s"greatest(CAST($total AS DOUBLE), CAST(1.0 AS DOUBLE)))"
  }

  /** doc ids ∪ twin ids (+1e6) for the planted binary-asset queries
    * (BMP images, PCM WAVs). */
  private def plantedAssetIds(s: SparkSession, dir: String) = {
    import s.implicits._
    val ids = t(s, dir, "documents").select(col("doc_id"))
    ids.union(ids.select(col("doc_id") + 1000000L)).as[java.lang.Long]
  }

  /** DuckDB replay of [[graft.multimodal.ImageHash.plantedBmpAssets]] +
    * [[graft.multimodal.ImageHash.dHash]]: pixel arithmetic → luma (exact
    * for gray pixels) → adjacent-cell bits → 64-bit pack. Bit 63 is the
    * BIGINT sign bit (1::BIGINT << 63 overflows), so it lands as a
    * two's-complement −2^63 addend; the HUGEINT sum casts back exactly. */
  private def imageHashCte: String =
    """ids AS (
         SELECT doc_id AS id, doc_id AS b, FALSE AS pert FROM documents
         UNION ALL
         SELECT doc_id + 1000000, doc_id, TRUE FROM documents),
       cells AS (
         SELECT id, y, x,
           CASE WHEN pert AND x = b % 9 AND y = b % 8
                THEN ((b*7 + (1 + b%13)*x*29 + (1 + b%11)*y*53 + (b*b % 251)*x*y + (b%17)*11*x*x) % 256 + 128) % 256
                ELSE (b*7 + (1 + b%13)*x*29 + (1 + b%11)*y*53 + (b*b % 251)*x*y + (b%17)*11*x*x) % 256 END AS v
         FROM ids, range(0, 8) ty(y), range(0, 9) tx(x)),
       bits AS (
         SELECT l.id, l.y * 8 + l.x AS k,
           CASE WHEN r.v > l.v THEN 1 ELSE 0 END AS bit
         FROM cells l JOIN cells r
           ON r.id = l.id AND r.y = l.y AND r.x = l.x + 1
         WHERE l.x < 8),
       hashes AS (
         SELECT id, CAST(SUM(
             CASE WHEN bit = 0 THEN 0::HUGEINT
                  WHEN k = 63 THEN (-9223372036854775808)::HUGEINT
                  ELSE (1::BIGINT << CAST(k AS INT))::HUGEINT END)
           AS BIGINT) AS dhash
         FROM bits GROUP BY id)"""

  /** DuckDB replay of [[graft.multimodal.AudioHash.plantedWavAssets]] +
    * [[graft.multimodal.AudioHash.envelopeHash]]: per-sample arithmetic →
    * integer Σ|s| per 32-sample block (65 blocks) → adjacent-block bits →
    * the same two's-complement 64-bit pack as the image hash. */
  private def audioHashCte: String =
    """ids AS (
         SELECT doc_id AS id, doc_id AS b, FALSE AS twin FROM documents
         UNION ALL
         SELECT doc_id + 1000000, doc_id, TRUE FROM documents),
       samp AS (
         SELECT id, t,
           CASE WHEN twin THEN
                  2 * ((b*31 + (1 + b%23)*t*t*7 + (1 + b%19)*t*13) % 2048 - 1024)
                  + CASE WHEN t = (b % 65) * 32 + b % 32
                         THEN 500 ELSE 0 END
                ELSE (b*31 + (1 + b%23)*t*t*7 + (1 + b%19)*t*13) % 2048 - 1024
           END AS s
         FROM ids, range(0, 2080) tt(t)),
       blocks AS (
         SELECT id, t // 32 AS blk, SUM(ABS(s)) AS e
         FROM samp GROUP BY 1, 2),
       bits AS (
         SELECT l.id, l.blk AS k,
           CASE WHEN r.e > l.e THEN 1 ELSE 0 END AS bit
         FROM blocks l JOIN blocks r ON r.id = l.id AND r.blk = l.blk + 1
         WHERE l.blk < 64),
       hashes AS (
         SELECT id, CAST(SUM(
             CASE WHEN bit = 0 THEN 0::HUGEINT
                  WHEN k = 63 THEN (-9223372036854775808)::HUGEINT
                  ELSE (1::BIGINT << CAST(k AS INT))::HUGEINT END)
           AS BIGINT) AS ehash
         FROM bits GROUP BY id)"""

  // ---- shared ANN / IVF parameters (query and oracle must agree) ----------
  private val EmbDim = 64 // TESTDATA embeddings dimensionality (all sf)
  private val LshBands = 8
  private val LshBits = 12
  private val LshSeed = 42L
  private val IvfCells = 16
  private val IvfProbe = 6
  // PQ: 64-dim embeddings → 8 subspaces × 16 centroids (4-bit codes)
  private val PqM = 8
  private val PqK = 16
  private val AnnK = 10

  /** Trained artifacts round-trip through the content-addressed
    * [[graft.core.ModelStore]] BY DEFAULT (the production train-once
    * contract: a later process over the same data LOADS instead of
    * retraining — measured 48-215× faster than cold training in
    * bench_r07_modelstore.json). `SPARK_GRAFT_MODEL_DIR` overrides the
    * store location; `SPARK_GRAFT_MODEL_DIR=""` (empty) disables the
    * store entirely and trains fresh per process. Either way the
    * in-process memo below guarantees query/oracle identity, and the
    * store's exact double round-trip guarantees load ≡ train. The
    * truly-cold training cost stays visible via the `*_cold` benchOnly
    * rows, which bypass both the store and the memo. */
  private def modelDir: Option[String] =
    sys.env.get("SPARK_GRAFT_MODEL_DIR").orElse(Some("target/model_store"))
      .filter(_.nonEmpty)

  /** IVF centroids memoized per sfDir: the query execution and the oracle
    * generation (later in the same Verify process) must use the IDENTICAL
    * doubles. Training is deterministic anyway (seeded sample, fixed
    * iterations) — the memo just removes any room for drift. */
  private val centroidCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Array[Double]]]
  def ivfCentroidsFor(s: SparkSession, dir: String): Seq[Array[Double]] =
    centroidCache.getOrElseUpdate(dir, {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.where(col("vec_id") >= 5)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      def train = Similarity.ivfCentroids(corpus, nCells = IvfCells,
        seed = LshSeed)
      modelDir.fold(train)(md => graft.core.ModelStore.cachedCentroids(
        md, s"ivf-$IvfCells-$LshSeed", corpus)(train))
    })

  /** k-means centroids for q_kmeans, memoized per sfDir for the same
    * query/oracle-identity reason as [[ivfCentroidsFor]] (the oracle
    * embeds these as literals). Trains over the FULL embeddings table —
    * clustering is a whole-corpus operation, unlike the IVF quantizer's
    * corpus/query split. */
  private val KmK = 8
  private val kmeansCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Array[Double]]]
  def kmeansCentroidsFor(s: SparkSession, dir: String): Seq[Array[Double]] =
    kmeansCache.getOrElseUpdate(dir, graft.ml.KMeans.fit(
      t(s, dir, "embeddings").select(col("embedding").as("vec")),
      "vec", KmK, seed = LshSeed))

  /** PQ codebooks, memoized per sfDir for the same query/oracle-identity
    * reason as [[ivfCentroidsFor]]. */
  private val pqCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Seq[Array[Double]]]]
  def pqCodebooksFor(s: SparkSession, dir: String): Seq[Seq[Array[Double]]] =
    pqCache.getOrElseUpdate(dir, {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.where(col("vec_id") >= 5)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      def train = graft.sim.Pq.trainCodebooks(corpus, m = PqM, k = PqK,
        seed = LshSeed)
      modelDir.fold(train)(md => graft.core.ModelStore.cachedCodebooks(
        md, s"pq-$PqM-$PqK-$LshSeed", corpus)(train))
    })

  /** Residual PQ codebooks (trained on v − coarse[cell]), memoized. */
  private val pqResCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Seq[Array[Double]]]]
  def pqResCodebooksFor(s: SparkSession,
                        dir: String): Seq[Seq[Array[Double]]] =
    pqResCache.getOrElseUpdate(dir, {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.where(col("vec_id") >= 5)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      def train = graft.sim.Pq.residualCodebooks(corpus,
        ivfCentroidsFor(s, dir), m = PqM, k = PqK, seed = LshSeed)
      modelDir.fold(train)(md => graft.core.ModelStore.cachedCodebooks(
        md, s"pqres-$PqM-$PqK-$IvfCells-$LshSeed", corpus)(train))
    })

  /** BPE merges, memoized per sfDir (same query/oracle-identity reason
    * as the quantizer caches). */
  private val BpeMerges = 200
  private val bpeCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(String, String)]]
  def bpeMergesFor(s: SparkSession, dir: String): Seq[(String, String)] =
    bpeCache.getOrElseUpdate(dir, {
      val docs = t(s, dir, "documents")
      def train = graft.text.Bpe.train(docs, "text",
        numMerges = BpeMerges, seed = LshSeed)
      modelDir.fold(train)(md => graft.core.ModelStore.cachedMerges(
        md, s"bpe-$BpeMerges-$LshSeed", docs)(train))
    })

  private val enStop = TextOps.enStopwords

  // ---- shared relevance parameters (query and oracle must agree) ----------
  private val TfIdfK = 3
  private val Bm25Terms = Seq("spark", "window", "agg") // in-vocab keywords
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val PackSeqLen = 512L // training-sequence length (tokens)
  private val ChunkWidth = 64 // RAG chunk window (tokens)
  private val ChunkStride = 32 // RAG chunk stride (tokens)
  private val ShuffleSeed = "graft-shuffle-42"
  private val DsirBuckets = 1024 // hashed n-gram feature space (q_dsir)
  private val DsirTarget = "src0" // target-domain proxy: one source slice
  private val ClassifierEpochs = 3 // batch-perceptron epochs (q_classifier)
  private val TrainSelectK = 200 // docs kept by the composed pipeline
  private val WinnowK = 4 // winnowing k-gram size (tokens)
  private val WinnowW = 4 // winnowing window (hashes)
  // target output composition for q_mixture_sample (weights exactly
  // representable in binary so the Scala and SQL literals are identical)
  private val MixtureTargets = Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- text analysis (#64–67) ------------------------------------------------
    "q_token_count" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("ws_tokens"),
        TextOps.bpeTokenCount(col("text")).as("bpe_tokens"))),
    "q_quality" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.qualityScore(col("text")).as("quality"))),
    // Learned-BPE token counts: merges trained driver-side on the seeded
    // sample (the quantizer regime), encode one native compiled pass per
    // row; the oracle replays the merge table as a recursive CTE over
    // DISTINCT words (lowest-rank leftmost-single-merge iteration —
    // equivalent to the engine's all-at-once form, see text/Bpe.scala)
    "q_bpe_tokens" -> ((s, dir) =>
      graft.dedup.Dedup.widen(t(s, dir, "documents"))
        .select(col("doc_id"),
          // coalesce: NULL text must count 0 on BOTH sides (the oracle's
          // LEFT JOIN + coalesce(SUM,0) already does) — without it the
          // contract would diverge on null-text inputs
          coalesce(graft.text.Bpe.tokenCount(col("text"), bpeMergesFor(s, dir)),
            lit(0L)).as("n_bpe"))),
    // BPE round-trip: decode(encode(text)) must reproduce the whitespace-
    // normalized text byte-for-byte — the detokenize guarantee; the
    // oracle computes the normalization WITHOUT touching token space
    "q_bpe_roundtrip" -> ((s, dir) =>
      t(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          graft.text.Bpe.decode(graft.text.Bpe.encode(col("text"),
            bpeMergesFor(s, dir))).as("rt"))),
    // Gopher rule filter (Rae et al. 2021 A1.1): per-rule measurements +
    // keep conjunction, one narrow codegen pass, every double a single
    // integer divide — replayed bit-exactly by the oracle. The corpus
    // has no '#'/'…'/'...' symbols and no newlines, so the symbol and
    // line rules would compare 0.0 == 0.0 — PLANT multi-line structure
    // with bullets, ellipses and hash spam on every 5th doc (only
    // space/newline whitespace: Java and RE2 agree on those in \s+)
    // so every rule branch is exercised cross-engine
    "q_gopher_rules" -> ((s, dir) =>
      t(s, dir, "documents").withColumn("text",
          when(col("doc_id") % 5 === 0,
            concat(col("text"), lit("\n- bullet one\n- bullet two\n" +
              "the line trails off...\nor even further…\n# # tag")))
            .otherwise(col("text")))
        .select(col("doc_id"), TextOps.gopherRules(col("text")).as("g"))
        .select(col("doc_id"), col("g.n_words"), col("g.mean_word_len"),
          col("g.symbol_ratio"), col("g.bullet_frac"),
          col("g.ellipsis_frac"), col("g.alpha_frac"), col("g.stop_hits"),
          col("g.keep"))),
    "q_lang_id" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.langId(col("text")).as("lang_guess"))),
    "q_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"))),
    "q_pii_scrub" -> ((s, dir) => {
      // plant deterministic PII per doc so the redaction is actually
      // exercised (the corpus itself carries none); the oracle plants
      // the identical strings and replays the same regex chain
      val planted = concat(col("text"),
        lit(" contact user"), col("doc_id"),
        lit("@mail.example.com or call 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" ssn 123-45-6789 done"))
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.scrubPii(planted).as("clean"))
    }),
    // zlib has no cross-engine twin -> rows-only gate entry; the native
    // expression's contracts are model- and relation-spec'd instead
    "q_compression" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.functions.DeflateLength(col("text"), 6).as("deflate_len"),
        TextOps.compressionRatio(col("text")).as("ratio"))),
    // sentence stats: heuristic segmentation (RE2-safe pattern, replayed
    // verbatim) + the degenerate-prose signals
    "q_sentences" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.sentenceCount(col("text")).as("n_sentences"),
        TextOps.meanSentenceChars(col("text")).as("mean_sentence_chars"))),
    // script profiling: per-script char counts over text planted with a
    // deterministic non-Latin suffix, plus the dominant script of that
    // suffix (the corpus itself is ASCII → always latin-dominant)
    "q_script" -> ((s, dir) => {
      val suffix = when(col("doc_id") % 4 === 1,
          lit("привет мир святой"))
        .when(col("doc_id") % 4 === 2, lit("γειά σου κόσμος"))
        .when(col("doc_id") % 4 === 3, lit("你好世界汉字"))
        .otherwise(lit(""))
      val planted = concat(col("text"), lit(" "), suffix)
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.scriptChars(planted, "Latin").as("latin_chars"),
        TextOps.scriptChars(planted, "Cyrillic").as("cyrillic_chars"),
        TextOps.scriptChars(planted, "Greek").as("greek_chars"),
        TextOps.scriptChars(planted, "Han").as("han_chars"),
        TextOps.dominantScript(suffix).as("suffix_script"))
    }),
    // mojibake repair over deterministically damaged text (the corpus is
    // ASCII, so the plant carries every table family: Ã-accents, â€-
    // punctuation, Â-symbols, the ÃY->ß control pair)
    "q_mojibake" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.fixMojibake(concat(col("text"), lit(MojibakePlant)))
          .as("fixed"))),
    "q_repetition" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.repetitionRatio(col("text"), 1).as("tok_rep"),
        TextOps.repetitionRatio(col("text"), 2).as("bigram_rep"))),
    "q_normalize" -> ((s, dir) => {
      // plant decomposed-form accents + precomposed ones so normalization
      // and accent stripping both do real work (the corpus is ASCII)
      val planted = concat(col("text"),
        lit(" Café naïve Über straße"))
      t(s, dir, "documents").select(col("doc_id"),
        TextOps.normalizeText(planted, "NFC",
          stripAccents = true, caseFold = true).as("norm"))
    }),
    // -- HTML → text extraction (markup planted around the corpus text;
    //    the oracle replays the identical rule chain, generated from the
    //    SAME Html.* constants) ---------------------------------------------
    "q_html_extract" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), plantedHtml.as("page"))
        .select(col("doc_id"),
          graft.text.Html.extractText(col("page")).as("clean"),
          graft.text.Html.linkDensity(col("page")).as("link_density"))),
    "q_html_links" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), plantedHtml.as("page"))
        .select(col("doc_id"),
          explode(graft.text.Html.links(col("page"))).as("href"))),
    // -- the composed crawl audit: pages → links → host → dominant
    //    domains (rows 70+72 composing — the UT1-blocklist / domain-
    //    weighting precursor every crawl pipeline runs) --------------------
    "q_link_hosts" -> ((s, dir) => {
      val pages = t(s, dir, "documents")
        .select(col("doc_id"), plantedHtml.as("page"))
      val hosts = pages
        .select(explode(graft.text.Html.links(col("page"))).as("href"))
        .select(graft.text.Html.urlHost(col("href")).as("host"))
        .where(col("host") =!= "")
      graft.core.HeavyHitters.exact(hosts, col("host"), 10)
    }),
    // -- URL canonicalization: the key-normalize step before URL dedup /
    //    frontier merge — one codegen'd expression, map-only ---------------
    "q_url_canon" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"), plantedUrl.as("url"))
        .select(col("doc_id"), col("url"),
          graft.text.Url.canonicalizeUrl(col("url")).as("canon"))),
    // -- multi-pattern literal scan: ONE Aho–Corasick pass over each doc
    //    for the whole pattern set (blocklist / contamination screening);
    //    the naive shape re-scans the corpus once per pattern ------------
    //    (matched list rendered as a '|'-joined string: the gate's
    //    pandas compare can't sort raw array columns)
    "q_contains_any" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        graft.text.MultiMatch.matchAny(col("text"), scanPatterns)
          .as("m"))
        .select(col("doc_id"), array_join(col("m"), "|").as("matched"),
          size(col("m")).cast("long").as("n_matched"))),
    // -- content-defined chunking round-trip: docs → gear-hash chunk
    //    table → ordered reassembly. The oracle is the ORIGINAL table
    //    (losslessness is the checkable contract; boundary placement,
    //    size bounds and shift-resistance are CdcSpec properties — the
    //    q_bpe_roundtrip posture). Chunk params sized so sf docs split
    //    into several chunks each. ---------------------------------------
    "q_cdc_roundtrip" -> ((s, dir) => {
      val ct = graft.dedup.Cdc.chunkTable(t(s, dir, "documents"),
        col("doc_id"), col("text"), minSize = 16, maskBits = 6,
        maxSize = 256)
      ct.groupBy(col("id"))
        .agg(concat_ws("", transform(
          array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
          x => x.getField("chunk"))).as("text"))
        .select(col("id").as("doc_id"), col("text"))
    }),
    // -- UT1-style domain blocklist over the link table: broadcast
    //    anti-join, corpus never shuffles -------------------------------
    "q_url_filter" -> ((s, dir) => {
      import s.implicits._
      val pages = t(s, dir, "documents")
        .select(col("doc_id"), plantedHtml.as("page"))
      val hosts = pages
        .select(col("doc_id"),
          explode(graft.text.Html.links(col("page"))).as("href"))
        .select(col("doc_id"),
          graft.text.Html.urlHost(col("href")).as("host"))
        .where(col("host") =!= "")
      val blocklist = Seq("mirror0.example.org", "mirror3.example.org",
        "spam.example.net").toDF("bad_host")
      graft.text.Html.filterByHostBlocklist(hosts, col("host"),
        blocklist, "bad_host")
    }),
    // -- the WET flow end-to-end: markup pages stored as a gzip WARC
    //    archive, read back distributed, boilerplate-extracted — the
    //    Common Crawl ingest shape in one query. The WARC leg is
    //    byte-identity, so the q_html_extract oracle carries over. --------
    "q_wet_pipeline" -> ((s, dir) => {
      val out = s"${Tables.derivedDir}/wet_docs"
      // size-derived segment ROLLOVER instead of a pre-write exchange:
      // the writer seals a segment at the cap, so the read side gets one
      // task per segment (the HTML-extraction regex pass — the dominant
      // CPU — parallelizes) while the write path stays exchange-free on
      // a narrow scan. The r09 repartition bought the same cold-path
      // parallelism but taxed every warm run with a full-payload shuffle.
      graft.sources.Warc.write(
        t(s, dir, "documents")
          .select(col("doc_id"), plantedHtml.as("page")),
        out, uri = concat(lit("urn:graft:doc:"), col("doc_id")),
        payload = col("page"), gzip = true,
        segmentBytes = warcSegmentBytes(s, dir))
      graft.sources.Warc.read(s, out)
        .select(
          regexp_extract(col("target_uri"), "(\\d+)$", 1)
            .cast("long").as("doc_id"),
          col("content").cast("string").as("page"))
        .select(col("doc_id"),
          graft.text.Html.extractText(col("page")).as("clean"),
          graft.text.Html.linkDensity(col("page")).as("link_density"))
    }),
    // -- PageRank over a documents-derived link graph (3 deterministic
    //    out-edges per doc via modular mixing — real in-degree variance).
    //    Integer fixed-point: every rank reproduces bit-for-bit in the
    //    unrolled DuckDB replay. ---------------------------------------------
    "q_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val mx = docs.agg(max("doc_id").as("mx"))
      val edges = docs.crossJoin(broadcast(mx)) // 1-row stat frame
        .select(col("doc_id").as("src"),
          explode(array(Seq(1, 2, 3).map(k =>
            (col("doc_id") * 31 + k * 1009) % (col("mx") + 1)): _*))
            .as("dst"))
      graft.graph.PageRank.pageRank(edges, col("src"), col("dst"),
        iterations = 5)
    }),
    // -- connected components as a first-class relation (the cluster
    //    resolution under every near-dup family, exercised here on the
    //    DISTRIBUTED path: each partition's union-find contracts its
    //    16-id chain blocks, and only blocks cut by a partition boundary
    //    reach the residue loop; closed-form truth) ------------------------
    "q_connected_components" -> ((s, dir) => {
      val e = t(s, dir, "documents")
        .where(col("doc_id") % 16 =!= 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") - 1).as("id_b"))
      Dedup.connectedComponents(e, driverEdgeThreshold = 0L)
    }),
    // -- quality-aware cluster resolution: keep each dup component's
    //    best-scored member (ties -> min id) over the same chain-block
    //    graph; closed-form oracle per 16-block ---------------------------
    "q_dedup_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = docs.where(col("doc_id") % 16 =!= 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") - 1).as("id_b"))
      Dedup.keepBestByScore(docs, "doc_id", "n_chars", pairs,
        driverEdgeThreshold = 0L)
    }),
    // -- corpus profiling (audit regime: exact, DuckDB-oracled) ---------------
    "q_profile" -> ((s, dir) =>
      graft.core.Profile.exact(t(s, dir, "documents"),
        Seq("doc_id", "lang", "source", "n_chars"))),
    // 100 TB regime: one pass, HLL cardinalities + approx quantiles, no
    // Expand; accuracy spec'd differentially vs exact (ProfileSpec), so
    // the gate records the weaker rows-only check
    "q_profile_sketch" -> ((s, dir) =>
      graft.core.Profile.sketch(t(s, dir, "documents"),
        Seq("doc_id", "lang", "source", "n_chars"))),
    // -- heavy hitters (frequent-items audit; exact regime oracled) ----------
    "q_heavy_hitters" -> ((s, dir) =>
      graft.core.HeavyHitters.exact(
        t(s, dir, "documents").select(
          explode(filter(split(col("text"), "\\s+"),
            tk => tk =!= "")).as("tok")),
        col("tok"), 20)),
    // Misra–Gries regime: per-partition capacity-bounded summaries, one
    // ≤capacity×partitions-row exchange; bounds spec'd differentially vs
    // exact (HeavyHittersSpec) → rows-only gate entry
    "q_heavy_sketch" -> ((s, dir) =>
      graft.core.HeavyHitters.sketch(
        t(s, dir, "documents").select(
          explode(filter(split(col("text"), "\\s+"),
            tk => tk =!= "")).as("tok")),
        col("tok"), 20)),
    // the same audits from the .pig front end (graft dialect): PROFILE
    // and HEAVY_HITTERS compile to the identical engine calls, so the
    // base queries' oracles carry over verbatim
    "q_pig_profile" -> ((s, dir) =>
      graft.piglatin.PigScript.query(s,
        "p = PROFILE docs ON doc_id, lang, source, n_chars;",
        "p", tables = Map("docs" -> t(s, dir, "documents")))),
    "q_pig_heavy" -> ((s, dir) =>
      graft.piglatin.PigScript.query(s,
        "h = HEAVY_HITTERS toks BY tok TOP 20 USING exact;",
        "h", tables = Map("toks" ->
          t(s, dir, "documents").select(
            explode(filter(split(col("text"), "\\s+"),
              tk => tk =!= "")).as("tok"))))),
    // -- the composed end-to-end curation flagship: canonicalize → quality
    //    gate → exact dedup → benchmark decontamination → per-language
    //    quota sample. Every stage is an already-oracled operator; this
    //    query proves they COMPOSE into the pipeline the engine exists
    //    for, and the oracle replays the whole chain in one SQL.
    "q_curation_pipeline" -> ((s, dir) => {
      import graft.core.Pipe
      val norm = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextOps.normalizeText(col("text"), "NFC",
          stripAccents = true, caseFold = true).as("norm"))
      val gated = norm.where(TextOps.tokenCount(col("norm")) >= 5)
      val winners = Dedup.exact(gated, "doc_id", "norm")
        .select(col("keep_id").as("doc_id"))
      val deduped = gated.join(winners, "doc_id")
      val bench = gated.where(col("doc_id") % 20 === 3)
        .select(col("doc_id").as("bench_id"), col("norm"))
      val corpus = deduped.where(col("doc_id") % 20 =!= 3)
      val clean = graft.text.Decontaminate.clean(corpus, "doc_id", "norm",
        bench, "bench_id", "norm", n = 8)
      Pipe(clean).stratifiedSampleByHash(col("lang"),
          Map("en" -> 40), defaultPercent = 80, col("doc_id"))
        .generate(col("doc_id"), col("lang")).df
    }),
    "q_embed_project" -> ((s, dir) =>
      // JL random projection 64→16 dims, unnested per position so the
      // oracle hash-compares every coordinate (identical sign literals
      // + identical left-fold IEEE order on both sides)
      t(s, dir, "embeddings").select(col("vec_id"),
        posexplode(graft.sim.RandomProjection.project(
          col("embedding"), d = 64, k = 16)))
        .toDF("vec_id", "pos", "value")),
    "q_embed_quantize" -> ((s, dir) => {
      // int8 scalar quantization, unnested per position so the oracle
      // hash-compares codes AND the (vmin, vscale) doubles — identical
      // IEEE op order on both sides gives bit-equal values
      val emb = t(s, dir, "embeddings")
      emb.select(col("vec_id"),
          graft.sim.Quantize.int8(
            col("embedding").cast(ArrayType(DoubleType))).as("q"))
        .selectExpr("vec_id", "q.vmin AS vmin", "q.vscale AS vscale",
          "posexplode(q.codes) AS (pos, code)")
        // codes are stored as signed bytes (level − 128); compare the
        // unsigned LEVEL so the oracle needn't model the storage offset
        .withColumn("code", graft.sim.Quantize.level(col("code")))
    }),
    "q_decontaminate" -> ((s, dir) => {
      // corpus = the planted near-dup twins, benchmark = a 5% slice of
      // the originals: each benchmark doc's twin (first token dropped)
      // shares nearly all its 8-grams, so contamination is structurally
      // guaranteed at every scale factor. Exact-overlap semantics — the
      // oracle replays the identical gram universe on strings while the
      // engine joins 8-byte xxhash64 keys.
      val docs = plantedDocs(t(s, dir, "documents"))
      val corpus = docs.where(col("doc_id") >= 1000000L)
      val bench = docs.where(col("doc_id") < 1000000L &&
        col("doc_id") % 20 === 3)
      graft.text.Decontaminate.report(corpus, "doc_id", "text",
        bench, "doc_id", "text", n = 8)
    }),
    "q_decontaminate_bloom" -> ((s, dir) => {
      // bloom-prefiltered exact decontamination: same corpus/bench split
      // and the SAME oracle as q_decontaminate — the bloom has no false
      // negatives and the exact stage re-verifies candidates, so any
      // output difference is a correctness bug, not a tuning artifact
      val docs = plantedDocs(t(s, dir, "documents"))
      val corpus = docs.where(col("doc_id") >= 1000000L)
      val bench = docs.where(col("doc_id") < 1000000L &&
        col("doc_id") % 20 === 3)
      graft.text.Decontaminate.reportBloom(corpus, "doc_id", "text",
        bench, "doc_id", "text", n = 8)
    }),
    "q_decontaminate_fuzzy" -> ((s, dir) => {
      // FUZZY variant: same corpus/bench split, but contamination is
      // whole-doc shingle Jaccard ≥ 0.5 via cross-collection MinHash
      // LSH (each bench doc's twin sits near Jaccard 1). The oracle is
      // the brute-force corpus×bench Jaccard — equality needs every
      // ≥-threshold pair to hit ≥1 band; this corpus satisfies the same
      // banding precondition as q_dedup_minhash (48/16 ⇒ r=3; organic
      // cross pairs far below 0.5, planted ones near 1).
      val docs = plantedDocs(t(s, dir, "documents"))
      val corpus = docs.where(col("doc_id") >= 1000000L)
      val bench = docs.where(col("doc_id") < 1000000L &&
        col("doc_id") % 20 === 3)
      graft.text.Decontaminate.fuzzyReport(corpus, "doc_id", "text",
        bench, "doc_id", "text", numHashes = 48, bands = 16,
        threshold = 0.5)
    }),

    // -- relevance scoring / split assignment -----------------------------------
    // integer-idf variant: every output column integral/text, so the
    // oracle hash-matches exactly (ln() is 1-ulp engine-dependent and
    // tf-idf has exact cross-pair ties — see Relevance scaladoc)
    "q_tfidf" -> ((s, dir) =>
      graft.text.Relevance.tfIdfTopKExact(
        t(s, dir, "documents"), "doc_id", "text", k = TfIdfK)),
    // doubles, but IEEE basic ops only in fixed order + integer idf —
    // the oracle replays scores bit-exactly
    "q_bm25" -> ((s, dir) =>
      graft.text.Relevance.bm25(t(s, dir, "documents"), "doc_id", "text",
        Bm25Terms, Bm25K1, Bm25B)),
    // deterministic md5-bucket train/val/test assignment (stable under
    // corpus growth, unlike count-based randomSplit)
    "q_split_hash" -> ((s, dir) =>
      graft.core.Pipe(t(s, dir, "documents"))
        .splitByHash(Seq("train" -> 80, "val" -> 10, "test" -> 10),
          col("doc_id"))
        .generate(col("doc_id"), col("lang"), col("split")).df),
    // mixture sampling toward a target language composition: keep-rates
    // are DERIVED from per-stratum counts (scarcest target stratum
    // binds), then applied through the shared deterministic md5 bucket —
    // the whole rate computation replays in SQL, so the row set is
    // hash-exact cross-engine
    "q_mixture_sample" -> ((s, dir) =>
      graft.core.Pipe(
          t(s, dir, "documents").select(col("doc_id"), col("lang")))
        .mixtureSampleByHash(col("lang"), MixtureTargets, col("doc_id"))
        .df.select(col("doc_id"), col("lang"))),
    // the same target composition from the dialect (MIXTURE statement),
    // riding the identical oracle — the script's TARGET weights are the
    // MixtureTargets constants written inline
    "q_pig_mixture" -> ((s, dir) =>
      graft.piglatin.PigScript.query(s,
        "b = MIXTURE d BY lang TARGET " +
          MixtureTargets.toSeq.sortBy(_._1)
            .map { case (n, w) => s"'$n' $w" }.mkString(", ") +
          " KEY doc_id;",
        "b", tables = Map("d" ->
          t(s, dir, "documents").select(col("doc_id"), col("lang"))))),
    // cross-corpus overlap from the dialect (OVERLAP statement), same
    // pre-tokenized inputs and oracle as the api twin
    "q_pig_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def toks(d: org.apache.spark.sql.DataFrame) =
        d.select(explode(graft.text.TextOps.tokens(lower(col("text"))))
          .as("tok"))
      graft.piglatin.PigScript.query(s,
        "o = OVERLAP a, b BY tok;", "o",
        tables = Map("a" -> toks(docs.where(col("lang") === "en")),
          "b" -> toks(docs.where(col("lang") =!= "en"))))
    }),
    // -- z-order clustered store round-trip: multi-column layout write
    //    (quantile-binned Morton interleave) then read-back — content
    //    equality is the oracle contract; the PRUNING property (every
    //    layout column gets file-level min/max skipping) is
    //    ZOrderLayoutSpec's measured assertion -----------------------------
    "q_store_zorder" -> ((s, dir) => {
      val out = s"${Tables.derivedDir}/zorder_rt"
      graft.core.Pipe(t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("value")))
        .storeZOrdered(out, Seq("user_id", "value"), bits = 8)
      s.read.parquet(out)
        .select(col("event_id"), col("user_id"), col("value"))
    }),
    // -- the crawl layer end-to-end as ONE plan: WARC archive → HTML
    //    link extraction → URL canonicalization → host blocklist →
    //    per-host robots gate. The WARC leg is byte-identity; the
    //    planted mirror hrefs are already canonical (lowercase host, no
    //    port/tracker/fragment), so the oracle replays extraction
    //    directly while the ENGINE still runs the full canon pass. ------
    "q_crawl_pipeline" -> ((s, dir) => {
      import s.implicits._
      val out = s"${Tables.derivedDir}/crawl_docs"
      // size-derived segment ROLLOVER instead of a pre-write exchange
      // (see q_wet_pipeline): one read task per sealed segment keeps the
      // link-extraction regex pass parallel — without any layout help it
      // ran as a SINGLE 12 s CPU-bound task at sf0.1
      graft.sources.Warc.write(
        t(s, dir, "documents")
          .select(col("doc_id"), plantedHtml.as("page")),
        out, uri = concat(lit("urn:graft:doc:"), col("doc_id")),
        payload = col("page"), gzip = true,
        segmentBytes = warcSegmentBytes(s, dir))
      val pages = graft.sources.Warc.read(s, out).select(
        regexp_extract(col("target_uri"), "(\\d+)$", 1)
          .cast("long").as("doc_id"),
        col("content").cast("string").as("page"))
      val links = pages
        .select(col("doc_id"),
          explode(graft.text.Html.links(col("page"))).as("href"))
        .where(graft.text.Html.urlHost(col("href")) =!= "")
        .select(col("doc_id"),
          graft.text.Url.canonicalizeUrl(col("href")).as("url"))
        .select(col("doc_id"),
          graft.text.Html.urlHost(col("url")).as("host"),
          regexp_extract(col("url"), "^[a-z][a-z0-9+.-]*://[^/]+(/.*)$", 1)
            .as("path"))
      val blocklist = Seq("mirror0.example.org", "mirror3.example.org",
        "spam.example.net").toDF("bad_host")
      val unblocked = graft.text.Html.filterByHostBlocklist(
        links, col("host"), blocklist, "bad_host")
      val policies = robotsPolicies.zipWithIndex
        .map { case (r, i) => (i.toLong, robotsTextFor(r)) }
        .toDF("pid", "robots")
      unblocked
        .withColumn("pid", pmod(
          regexp_extract(col("host"), "mirror(\\d+)", 1).cast("long"),
          lit(4L)))
        .join(broadcast(policies), "pid")
        .select(col("doc_id"), col("host"), col("path"),
          graft.text.Robots.isAllowed(col("path"), col("robots"),
            "graftbot").as("fetchable"))
    }),
    // -- snapshot diff: added/removed/changed keys between two corpus
    //    versions derived in-plan (deletions at %7, edits at %5,
    //    additions at %11 shifted past the id space) — exchanges carry
    //    (key, fingerprint) pairs, never bodies ---------------------------
    "q_corpus_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.core.Overlap.diff(docs, col("doc_id"), col("text"),
          diffV2(docs), col("doc_id"), col("text"))
        .select(col("k").as("doc_id"), col("status"))
    }),
    // -- the same two audits from the dialect (OUTLIERS / DIFF
    //    statements), riding the identical oracles ------------------------
    "q_pig_outliers" -> ((s, dir) =>
      graft.piglatin.PigScript.query(s,
        """o = OUTLIERS d BY lang ON n_chars K 2.0;
           b = FILTER o BY is_outlier;
           r = FOREACH b GENERATE doc_id, lang, n_chars;""",
        "r", tables = Map("d" -> t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))))),
    "q_pig_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.piglatin.PigScript.query(s,
        """x = DIFF a, b BY doc_id ON text;
           r = FOREACH x GENERATE k AS doc_id, status;""",
        "r", tables = Map("a" -> docs, "b" -> diffV2(docs)))
    }),
    // -- delivery manifest: shard-set integrity totals (row count + the
    //    order-insensitive XOR content checksum) — the oracle recomputes
    //    both straight from the table, so the write→scan→manifest chain
    //    is verified end-to-end -------------------------------------------
    "q_store_manifest" -> ((s, dir) => {
      val out = s"${Tables.derivedDir}/manifest_rt"
      val manifest = graft.core.Pipe(t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type")))
        .storeWithManifest(out, maxRecordsPerFile = 4096L)
      manifest.agg(sum(col("n_rows")).cast("long").as("n_rows"),
        expr("bit_xor(checksum)").as("checksum"))
    }),
    // -- robots.txt crawl-policy gate: per-host policies broadcast-joined
    //    to the url frontier, fetchability decided by a per-row map (the
    //    engine PARSES hostile-formatted bodies; the oracle replays the
    //    longest-prefix/Allow-wins semantics over the same rule
    //    constants) ----------------------------------------------------------
    "q_robots" -> ((s, dir) => {
      import s.implicits._
      val policies = robotsPolicies.zipWithIndex
        .map { case (rules, i) => (i.toLong, robotsTextFor(rules)) }
        .toDF("pid", "robots")
      t(s, dir, "documents")
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(robotsPolicies.size.toLong)).as("pid"),
          robotsPath.as("path"))
        .join(broadcast(policies), "pid")
        .select(col("doc_id"), col("pid"), col("path"),
          graft.text.Robots.isAllowed(col("path"), col("robots"),
            "graftbot").as("allowed"))
    }),
    // -- crawl-policy metadata: Sitemap seed discovery (global lines)
    //    and the graftbot group's Crawl-delay, parsed per row from the
    //    hostile planted bodies (decoy OtherBot delay must be skipped,
    //    missing delay must be NULL); the oracle replays from the SAME
    //    constants ----------------------------------------------------------
    "q_robots_meta" -> ((s, dir) => {
      import s.implicits._
      val policies = robotsPolicies.zipWithIndex
        .map { case (rules, i) => (i.toLong, robotsTextFor(rules, i)) }
        .toDF("pid", "robots")
      t(s, dir, "documents")
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(robotsPolicies.size.toLong)).as("pid"))
        .join(broadcast(policies), "pid")
        .select(col("doc_id"), col("pid"),
          array_join(graft.text.Robots.sitemaps(col("robots")), ",")
            .as("smaps"),
          graft.text.Robots.crawlDelay(col("robots"), "graftbot")
            .as("delay"))
    }),
    // -- frontier fetch scheduling: per-host politeness slots from the
    //    PARSED crawl-delays (engine runs the real robots parse; the
    //    oracle replays slots/offsets from the shared delay constants —
    //    missing delays take the 1 s default on both sides) ----------------
    "q_crawl_schedule" -> ((s, dir) => {
      import s.implicits._
      val policies = robotsPolicies.zipWithIndex
        .map { case (rules, i) => (i.toLong, robotsTextFor(rules, i)) }
        .toDF("pid", "robots")
      val frontier = t(s, dir, "documents")
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(robotsPolicies.size.toLong)).as("pid"))
        .join(broadcast(policies), "pid")
        .select(
          concat(lit("mirror"), col("pid"), lit(".example.org"))
            .as("host"),
          concat(lit("/p/"), col("doc_id")).as("url"),
          graft.text.Robots.crawlDelay(col("robots"), "graftbot")
            .as("delay"))
      graft.text.Frontier.schedule(frontier, col("host"), col("url"),
          col("delay"))
        .select(col("host"), col("url"), col("slot"), col("fetch_at_ms"))
    }),
    // the same scheduler from the dialect (SCHEDULE statement), riding
    // the identical oracle
    "q_pig_schedule" -> ((s, dir) => {
      import s.implicits._
      val policies = robotsPolicies.zipWithIndex
        .map { case (rules, i) => (i.toLong, robotsTextFor(rules, i)) }
        .toDF("pid", "robots")
      val frontier = t(s, dir, "documents")
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(robotsPolicies.size.toLong)).as("pid"))
        .join(broadcast(policies), "pid")
        .select(
          concat(lit("mirror"), col("pid"), lit(".example.org"))
            .as("host"),
          concat(lit("/p/"), col("doc_id")).as("url"),
          graft.text.Robots.crawlDelay(col("robots"), "graftbot")
            .as("delay"))
      graft.piglatin.PigScript.query(s,
          "x = SCHEDULE f BY host ON url DELAY delay;",
          "x", tables = Map("f" -> frontier))
        .select(col("host"), col("url"), col("slot"), col("fetch_at_ms"))
    }),
    // -- cross-corpus overlap accounting (exact regime): distinct token
    //    sharing between the en slice and everything else — distinct-
    //    reduce FIRST, join distinct sets only. The one-pass mergeable-
    //    sketch regime (hll_sketch_agg + hll_union) is OverlapSpec's
    //    tolerance-bounded contract. ---------------------------------------
    "q_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def toks(d: org.apache.spark.sql.DataFrame) =
        d.select(explode(graft.text.TextOps.tokens(lower(col("text"))))
          .as("tok"))
      graft.core.Overlap.exact(
        toks(docs.where(col("lang") === "en")), col("tok"),
        toks(docs.where(col("lang") =!= "en")), col("tok"))
    }),
    // -- robust per-group outlier gate (median/MAD): the length-anomaly
    //    screen that a mean/σ gate gets dragged off by the very rows it
    //    should flag. Integer column → half-integer medians → exact
    //    cross-engine boundary. -------------------------------------------
    "q_outliers" -> ((s, dir) =>
      graft.core.Pipe(t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars")))
        .madOutliers(col("lang"), col("n_chars"), 2.0)
        .df.where(col("is_outlier"))
        .select(col("doc_id"), col("lang"), col("n_chars"))),
    // -- composed curation v3: per-group quality prune → temperature
    //    rebalance → train/val split, one logical plan end-to-end (each
    //    stage's oracle CTE chains into the next — the whole pipeline is
    //    single-SQL replayed) -------------------------------------------
    "q_curation_v3" -> ((s, dir) =>
      graft.core.Pipe(t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars")))
        .topFracByGroup(col("lang"), 50, col("n_chars"), col("doc_id"))
        .temperatureSampleByHash(col("lang"), 0.5, col("doc_id"))
        .splitByHash(Seq("train" -> 90, "val" -> 10), col("doc_id"))
        .df.select(col("doc_id"), col("lang"), col("split"))),
    // -- the same two filters from the dialect (TEMPERATURE / TOP_FRAC
    //    statements), riding the identical oracles ------------------------
    "q_pig_temperature" -> ((s, dir) =>
      graft.piglatin.PigScript.query(s,
        "b = TEMPERATURE d BY lang ALPHA 0.5 KEY doc_id;",
        "b", tables = Map("d" ->
          t(s, dir, "documents").select(col("doc_id"), col("lang"))))),
    "q_pig_topfrac" -> ((s, dir) =>
      graft.piglatin.PigScript.query(s,
        "b = TOP_FRAC d BY lang PCT 25 SCORE n_chars KEY doc_id;",
        "b", tables = Map("d" -> t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))))),
    // -- vocabulary extraction: token frequency table with min-count
    //    prune + deterministic top-k (the word-level companion to BPE
    //    training). Partial-agg shape: the exchange carries (token,
    //    count) pairs, never the token stream. ---------------------------
    "q_vocab" -> ((s, dir) =>
      graft.text.Vocab.topTokens(t(s, dir, "documents"), col("text"),
        minCount = 5L, k = 200)),
    // -- per-doc OOV audit against the SAME vocab constants as q_vocab:
    //    token stream joins the broadcast k-row vocab, one partial-agg
    //    rollup; empty docs re-attach with rate 0.0 -----------------------
    "q_oov_rate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.Vocab.oovRate(docs, col("doc_id"), col("text"),
          graft.text.Vocab.topTokens(docs, col("text"),
            minCount = 5L, k = 200))
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_oov"),
          col("oov_rate"))
    }),
    // -- per-group top-fraction quality filter: keep the best 25% of
    //    every language by length score — the per-group threshold a
    //    global cutoff can't express (it would wipe out whole groups).
    //    Integer-exact quota: rk·100 ≤ pct·n + 99. ------------------------
    "q_top_frac" -> ((s, dir) =>
      graft.core.Pipe(t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars")))
        .topFracByGroup(col("lang"), 25, col("n_chars"), col("doc_id"))
        .df.select(col("doc_id"), col("lang"), col("n_chars"))),
    // -- temperature rebalancing (the multilingual n^α rule): sampling
    //    mass ∝ groupSize^α — no target table, the rates derive from the
    //    group counts in-plan; same md5 bucket as every sampler -----------
    "q_temperature_sample" -> ((s, dir) =>
      graft.core.Pipe(
          t(s, dir, "documents").select(col("doc_id"), col("lang")))
        .temperatureSampleByHash(col("lang"), 0.5, col("doc_id"))
        .df.select(col("doc_id"), col("lang"))),

    // -- sequence layout / LM scoring -------------------------------------------
    // GPT-style concat-and-chunk packing: the global token prefix sum
    // runs distributed (range partition + driver offsets over
    // numPartitions longs), never as a single-partition window
    "q_pack_sequences" -> ((s, dir) =>
      graft.text.Pack.packConcat(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", TextOps.tokenCount(col("text")), seqLen = PackSeqLen)
        .select(col("doc_id"), col("n_tok"), col("tok_start"),
          col("seq_first"), col("seq_last"))),
    // RAG sliding-window chunking: narrow codegen pass, output rows
    // ∝ tokens/stride
    "q_chunk" -> ((s, dir) =>
      graft.text.Pack.chunk(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", width = ChunkWidth, stride = ChunkStride)),
    // corpus-trained add-one unigram surprisal (the CCNet-style
    // perplexity quality filter); fixed-point log2 units so the oracle
    // replays scores hash-exactly (see LangModel scaladoc)
    "q_lm_score" -> ((s, dir) =>
      graft.text.LangModel.scoreNllFx(
        t(s, dir, "documents"), "doc_id", "text")),
    // pruned-bigram Stupid Backoff (α=0.4, singleton bigrams pruned so
    // the backoff branch fires on real data); same fx-exact log2
    "q_lm_bigram" -> ((s, dir) =>
      graft.text.LangModel.scoreBigramFx(
        t(s, dir, "documents"), "doc_id", "text", minBigramCount = 2)),
    // DSIR importance weighting (Xie et al. 2023): per-doc signed
    // fixed-point log2 likelihood ratio of a target-domain hashed-ngram
    // model vs the raw-corpus model; target proxy = one source slice
    "q_dsir" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // ONE feature pass: the target slice's features are the corpus
      // features filtered to target ids (docFeatures is per-doc), so
      // the corpus never tokenizes twice — and the persisted table also
      // serves importanceFx's two internal reads (bucket counts + the
      // final per-doc weight join)
      val feats = graft.core.Intermediates.track(
        graft.text.Dsir.docFeatures(docs, "doc_id", "text", DsirBuckets)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      graft.text.Dsir.importanceFxOnFeatures(feats,
        feats.join(docs.where(col("source") === DsirTarget)
          .select("doc_id"), "doc_id"),
        "doc_id", DsirBuckets)
    }),
    // trained quality classifier: multinomial Naive Bayes (one exact
    // pass; the fastText-style quality-filter regime). The synthetic
    // corpus has no organic class signal, so the query PLANTS one —
    // spam-token suffixes on every third doc (same pattern as
    // q_dedup_exact's planted duplicates) — and learns it back
    // (~99% train accuracy); the oracle replays training + scoring
    // hash-exactly
    "q_classifier" -> ((s, dir) => {
      val planted = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" casino spam click casino")))
          .otherwise(col("text")))
      // one persisted feature pass shared by train + score (the reuse
      // seam: at 100 TB the tokenize/explode scan is the dominant cost)
      val feats = graft.core.Intermediates.track(
        graft.text.Dsir.docFeatures(planted, "doc_id", "text", DsirBuckets)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val w = graft.text.Classifier.trainNaiveBayesOnFeatures(feats,
        planted.select(col("doc_id"),
          when(col("doc_id") % 3 =!= 0, 1L).otherwise(-1L).as("__y")),
        "doc_id", DsirBuckets)
      graft.text.Classifier.scoreFeatures(
        graft.text.Classifier.addBias(feats, planted, "doc_id",
          DsirBuckets), "doc_id", w)
    }),
    // -- classifier calibration at depth: precision/recall of every
    //    top-k% cut under the NB margin order (how a quality threshold
    //    is actually chosen). Integer ranks ride the distributed prefix
    //    sum; only <=100 depth rows enter the cumulative window. -----------
    "q_pr_curve" -> ((s, dir) => {
      val planted = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" casino spam click casino")))
          .otherwise(col("text")))
      val feats = graft.core.Intermediates.track(
        graft.text.Dsir.docFeatures(planted, "doc_id", "text", DsirBuckets)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val w = graft.text.Classifier.trainNaiveBayesOnFeatures(feats,
        planted.select(col("doc_id"),
          when(col("doc_id") % 3 =!= 0, 1L).otherwise(-1L).as("__y")),
        "doc_id", DsirBuckets)
      val scored = graft.text.Classifier.scoreFeatures(
        graft.text.Classifier.addBias(feats, planted, "doc_id",
          DsirBuckets), "doc_id", w)
      val labeled = scored.join(
        planted.select(col("doc_id"),
          when(col("doc_id") % 3 =!= 0, 1L).otherwise(0L).as("__lab")),
        "doc_id")
      graft.text.Classifier.precisionAtDepth(labeled, col("margin"),
          col("__lab"), col("doc_id"), steps = 100)
        .select(col("pct"), col("k"), col("tp"),
          col("precision").as("prec"), col("recall"))
    }),
    // full-batch perceptron: the exact distributed iterative-training
    // template (every epoch an order-independent integer sum, so the
    // oracle replays all 3 epochs hash-exactly). Learning contract is
    // spec'd in ClassifierSpec (converges on direction-separable
    // classes); NB above is the recommended quality filter
    "q_perceptron" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // featuresWithBias built ONCE: trainPerceptronOnFeatures persists
      // this very reference for its epoch loop, so the scoring pass below
      // reads the same cached table instead of re-tokenizing the corpus
      val featsB = graft.text.Classifier.featuresWithBias(docs, "doc_id",
        "text", DsirBuckets)
      val w = graft.text.Classifier.trainPerceptronOnFeatures(featsB,
        docs.select(col("doc_id"),
          when(col("lang") === "en", 1L).otherwise(-1L).as("__y")),
        "doc_id", DsirBuckets, ClassifierEpochs)
      graft.text.Classifier.scoreFeatures(featsB, "doc_id", w)
    }),
    // winnowing fingerprints (MOSS): zero-shuffle narrow pass; any
    // substring match >= w+k-1 tokens is guaranteed a shared fingerprint
    "q_winnow" -> ((s, dir) =>
      graft.text.Winnow.winnow(t(s, dir, "documents"), "doc_id", "text",
        k = WinnowK, w = WinnowW)),
    // C4-style cross-corpus line dedup: plant line structure (a shared
    // boilerplate header + 10-token lines) and strip lines occurring in
    // > 5 distinct docs; the header vanishes, organic lines survive
    "q_line_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val lined = docs.select(col("doc_id"), expr(
        """concat('shared boilerplate header line', '\n',
             array_join(element_at(transform(
               array(filter(split(text, '\\s+'), x -> x <> '')),
               t -> case when size(t) = 0 then array()
                    else transform(sequence(0, (size(t) + 9) div 10 - 1),
                      i -> array_join(slice(t, i * 10 + 1, 10), ' '))
                    end), 1), '\n'))""").as("text"))
      graft.text.TextOps.dedupLines(lined, "doc_id", "text", maxDf = 5)
    }),
    // the pairs application: plant partial-overlap docs (prefix + full
    // original text), df-capped inverted index over the fingerprints
    "q_winnow_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.union(
        docs.where(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("planted preface marker run "), col("text"))
              .as("text")))
      graft.text.Winnow.winnowPairs(planted, "doc_id", "text",
        k = WinnowK, w = WinnowW, minShared = 2, maxDf = 100)
    }),
    // COMPOSED round-5 flagship: the end-to-end path from a raw corpus
    // to a packed training order — plant signal → NB quality gate →
    // DSIR top-K target-domain selection → deterministic shuffle →
    // sequence packing. Every stage is an already-oracled operator; the
    // oracle replays the WHOLE chain in one DuckDB SQL, proving the new
    // operators compose hash-exactly (the q_curation_pipeline pattern)
    "q_training_pipeline" -> ((s, dir) => {
      val planted = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" casino spam click casino")))
          .otherwise(col("text")))
      // ONE persisted feature pass feeds NB training, scoring AND both
      // DSIR sides (filtered by kept/target ids) — the corpus tokenizes
      // exactly once across the whole chain; at 100 TB that scan is the
      // pipeline's dominant cost and re-running it per stage is the
      // difference between 1 and 4 full corpus reads
      val feats = graft.core.Intermediates.track(
        graft.text.Dsir.docFeatures(planted, "doc_id", "text", DsirBuckets)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val w = graft.text.Classifier.trainNaiveBayesOnFeatures(feats,
        planted.select(col("doc_id"),
          when(col("doc_id") % 3 =!= 0, 1L).otherwise(-1L).as("__y")),
        "doc_id", DsirBuckets)
      val keptIds = graft.core.Intermediates.track(
        graft.text.Classifier.scoreFeatures(
            graft.text.Classifier.addBias(feats, planted, "doc_id",
              DsirBuckets), "doc_id", w)
          .where(col("pred") === 1L).select("doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val keptFeats = feats.join(keptIds, "doc_id")
      val scored = graft.text.Dsir.importanceFxOnFeatures(keptFeats,
        keptFeats.join(planted.where(col("source") === DsirTarget)
          .select("doc_id"), "doc_id"),
        "doc_id", DsirBuckets)
      // global top-K = TakeOrdered (distributed heads merge on the
      // driver), never a single-partition window
      val selected = scored
        .orderBy(col("dsir_fx").desc, col("doc_id"))
        .limit(TrainSelectK)
        .join(planted.select(col("doc_id"), col("text")), "doc_id")
      val shuffled = graft.core.Pipe(selected)
        .zipWithIndex(
          Seq(md5(concat(coalesce(col("doc_id").cast(StringType),
            lit("\u001E")), lit("|" + ShuffleSeed)).cast(BinaryType))),
          "shuffle_pos")
        .df
      graft.text.Pack.packConcat(
          shuffled.select(col("doc_id"), col("shuffle_pos"), col("text")),
          "shuffle_pos", TextOps.tokenCount(col("text")),
          seqLen = PackSeqLen)
        .select(col("doc_id"), col("shuffle_pos"), col("n_tok"),
          col("tok_start"), col("seq_first"), col("seq_last"))
    }),
    // curriculum prep: global easy->hard difficulty deciles by mean
    // unigram surprisal (exact integer ranks via the distributed
    // zipWithIndex machinery, never a single-partition window)
    "q_curriculum" -> ((s, dir) =>
      graft.text.LangModel.curriculumBuckets(
        t(s, dir, "documents"), "doc_id", "text", buckets = 10)),
    // deterministic global shuffle: reproducible + resumable training
    // order by seeded md5 rank, on the distributed zipWithIndex machinery
    // key uses the house null-sentinel encoding (hashBucket convention:
    // nulls → 0x1E) — bare concat_ws would silently DROP a null doc_id,
    // collapsing those rows onto md5(seed) and losing determinism
    "q_shuffle_det" -> ((s, dir) =>
      graft.core.Pipe(
          t(s, dir, "documents").select(col("doc_id"), col("lang")))
        .zipWithIndex(
          Seq(md5(concat(coalesce(col("doc_id").cast(StringType),
            lit("\u001E")), lit("|" + ShuffleSeed)).cast(BinaryType))),
          "shuffle_pos")
        .df.select(col("doc_id"), col("lang"), col("shuffle_pos"))),

    // -- dedup (#57–61) ---------------------------------------------------------
    "q_dedup_exact" -> ((s, dir) => {
      // exact dedup needs exact copies: plant verbatim duplicates
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.union(
        docs.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.exact(planted, "doc_id", "text")
    }),
    "q_dedup_minhash" -> ((s, dir) =>
      // the exact-jaccard oracle equals the LSH output only when every
      // pair ABOVE the threshold hits ≥1 band. Detection at jaccard j
      // with r rows/band, b bands is 1-(1-j^r)^b: at r=3, b=16 that is
      // .88 at the 0.5 boundary, .98 at 0.6, ~1 at the planted ~1.0 —
      // and this corpus's organic pairs all sit far below 0.5 (verified:
      // the hash matches at sf0.001/0.01/0.1). A corpus with organic
      // pairs NEAR the threshold would need more bands or an exact join;
      // r=4, b=8 (the old setting) detected a 0.5-boundary pair with
      // p=.40 — structurally too weak to claim oracle equality.
      Dedup.minhashLsh(plantedDocs(t(s, dir, "documents")),
        "doc_id", "text", numHashes = 48, bands = 16, threshold = 0.5)),
    "q_dedup_simhash" -> ((s, dir) => {
      val sims = Dedup.simhash(plantedDocs(t(s, dir, "documents")),
        "doc_id", "text")
      Dedup.simhashPairs(sims, maxDist = 3)
    }),
    "q_dedup_jaccard" -> ((s, dir) =>
      // 5-gram shingles: near-unique on this corpus (median df = 1), so
      // the inverted index generates candidates ~linearly; 3-grams on a
      // ~30-word vocabulary explode quadratically
      Dedup.ngramJaccard(plantedDocs(t(s, dir, "documents")),
        "doc_id", "text", n = 5, threshold = 0.5, maxDocFreq = 50)),
    "q_dedup_cosine" -> ((s, dir) =>
      // banded OR-amplification: at cosine = 0.999 (θ ≈ 2.56°) a bit
      // flips with p = θ/π ≈ .0143, a 10-plane band matches with
      // (1-p)^10 ≈ .866, and a pair misses ALL bands with .134^b —
      // 5.7e-6 at 6 bands, 3.2e-11 at 12. 12 bands makes the oracle-
      // equality argument structural, not just "no boundary pairs in
      // this corpus"; banding is one native pass so the extra 6 bands
      // are nearly free (HyperplaneBands)
      Dedup.embeddingCosine(plantedVecs(t(s, dir, "embeddings")),
        "vec_id", "embedding", threshold = 0.999, planes = 10, bands = 12)
        .select(col("id_a"), col("id_b"))),
    // the PRODUCTION preset (6 bands — Dedup.embeddingCosine defaults) is
    // benchmarked separately via benchOnly: same shape, half the band
    // passes; its recall contract is spec'd, not oracled
    // systematic weighted resampling (the DSIR selection step): integer
    // token-count weights, k=100 grid points over cumulative-weight
    // space — all integer arithmetic, replayed exactly (windowed
    // prefix sums + floor-division)
    "q_sys_resample" -> ((s, dir) =>
      graft.core.Pipe(t(s, dir, "documents"))
        .systematicResample(TextOps.tokenCount(col("text")), k = 100,
          orderCol = col("doc_id"))
        .df.select(col("doc_id"), col("multiplicity"))),
    // Lee et al. 2021-style repeated-substring excision: plant cross-doc
    // boilerplate (every 7th doc) and a within-doc repeat (every 11th ≡ 3:
    // its own first 4 tokens re-appended), then remove every duplicated
    // ≥4-token substring occurrence beyond each gram's global first.
    // The oracle replays tokenization, gram grouping (joining gram
    // STRINGS where the engine joins 60-bit md5 hashes — the
    // decontaminate precedent), the min-(doc,pos) first-occurrence rule,
    // coverage and in-order reassembly — hash-exact.
    "q_substring_dedup" -> ((s, dir) => {
      val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("text", when(col("doc_id") % 7 === 0,
            concat(col("text"),
              lit(" shared boilerplate block repeated verbatim across docs")))
          .otherwise(col("text")))
      val planted = base.withColumn("text", when(col("doc_id") % 11 === 3,
          concat_ws(" ", col("text"),
            concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 4))))
        .otherwise(col("text")))
      graft.text.SubstringDedup.exciseRepeated(planted, "doc_id", "text",
        k = 4)
    }),
    // -- #68 multimodal: REAL MJPEG video decode, oracled ------------------
    // planted AVIs whose layout is pure doc_id arithmetic: the pipeline
    // (RIFF walk → header frame rate → stride sampling → per-frame REAL
    // JPEG decode) emits (doc_id, frame_idx, width, height), and width/
    // height come from the DECODED JPEG raster, not the header — so the
    // oracle's arithmetic replay only matches if container parsing,
    // sampling arithmetic and the imageio decode all agree. Pixel-content
    // features (means, frame counts in features[7]) are exact-value
    // spec'd in AviSpec; everyMs=80 over 40ms frames ⇒ stride 2.
    "q_video_frames" -> ((s, dir) => {
      import s.implicits._
      // every 4th doc: the decode-pipeline check needs coverage, not
      // volume — in-query JPEG encode of the planted corpus is the
      // dominant cost, and the %4 filter is co-prime with the %5/%3/%2
      // layout arithmetic so frame counts and dims still cycle fully
      val assets = graft.multimodal.Multimodal.plantedMjpegAssets(
        t(s, dir, "documents").select(col("doc_id"))
          .where(col("doc_id") % 4 === 0).as[java.lang.Long])
      graft.multimodal.Multimodal.sampleFrames(assets, everyMs = 80L)
        .select(col("id").as("doc_id"), col("frameIdx").as("frame_idx"),
          col("width"), col("height"))
    }),
    // -- #68 multimodal: perceptual image hash + image near-dup dedup -------
    // planted 9×8 grayscale BMPs whose every pixel is doc_id arithmetic;
    // ids ≥ 1e6 are one-pixel-inverted twins (Hamming ≤ 2 from their
    // base). The engine runs the REAL pipeline — BMP encode → imageio
    // decode → integer luma → area-average dHash — and the oracle
    // replays the bits arithmetically, so a disagreement anywhere in the
    // codec path or the hash packing hash-fails.
    "q_image_dhash" -> ((s, dir) => {
      import s.implicits._
      graft.multimodal.ImageHash.hashAssets(
          graft.multimodal.ImageHash.plantedBmpAssets(
            plantedAssetIds(s, dir)))
        .select(col("id").as("doc_id"), col("dhash"))
    }),
    // near-dup pairs within Hamming 3 via the pigeonhole-banded join
    // (exact recall), brute-force replayed by the oracle — the planted
    // twins plus whatever hash near-collisions the corpus carries
    "q_image_dedup" -> ((s, dir) => {
      import s.implicits._
      graft.multimodal.ImageHash.nearDupPairs(
        graft.multimodal.ImageHash.hashAssets(
          graft.multimodal.ImageHash.plantedBmpAssets(
            plantedAssetIds(s, dir))),
        maxDist = 3)
    }),
    // -- #68 multimodal: audio envelope fingerprint + audio near-dup --------
    // planted REAL 16-bit PCM WAVs whose every sample is doc_id
    // arithmetic; twins are the SAME clip at double volume (envelope
    // hash is volume-invariant) with one sample bumped — Hamming ≤ 2.
    // Engine: hand-built RIFF bytes → javax.sound decode → integer
    // Σ|sample| per block → comparison bits; oracle replays it exactly
    // (integer sums, no float-order hazards).
    "q_audio_ehash" -> ((s, dir) => {
      import s.implicits._
      graft.multimodal.AudioHash.hashAssets(
          graft.multimodal.AudioHash.plantedWavAssets(
            plantedAssetIds(s, dir)))
        .select(col("id").as("doc_id"), col("ehash"))
    }),
    "q_audio_dedup" -> ((s, dir) => {
      import s.implicits._
      graft.multimodal.AudioHash.nearDupPairs(
        graft.multimodal.AudioHash.hashAssets(
          graft.multimodal.AudioHash.plantedWavAssets(
            plantedAssetIds(s, dir))),
        maxDist = 3)
    }),
    // -- #68 multimodal: video near-dup via shared frame hashes -------------
    // planted gradient MJPEG AVIs; twins share all but one frame BYTE
    // FOR BYTE (deterministic JPEG encode), so shared frames hash
    // identically through the real decode path and the pair set is pure
    // id arithmetic: (b, b+1e6) with shared = n−1 = b%5 ≥ 2. The per-id
    // gradient family keeps organic cross-video collisions at zero
    // (verified over the full sf0.1 id population); hash VALUES are
    // spec-pinned (VideoHashSpec), the oracle checks the pair STRUCTURE.
    "q_video_dedup" -> ((s, dir) => {
      import s.implicits._
      graft.multimodal.VideoHash.nearDupPairs(
        graft.multimodal.VideoHash.frameHashes(
          graft.multimodal.VideoHash.plantedGradientAvis(
            plantedAssetIds(s, dir))),
        minShared = 2)
    }),
    // -- incremental dedup (append path): index old, fold in a delta shard --
    // exact: base = the originals, Δ = the verbatim copies; the folded
    // index must equal full-corpus exact dedup (the equivalence contract
    // — the oracle IS the q_dedup_exact SQL over the whole corpus, so a
    // fold that dropped/duplicated any fp group hash-fails)
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val delta = docs.select((col("doc_id") + 1000000L).as("doc_id"),
        col("text"))
      graft.dedup.Incremental.exactAppend(
        graft.dedup.Incremental.exactIndex(docs, "doc_id", "text"),
        delta, "doc_id", "text")
    }),
    // minhash: base = originals, Δ = the near-dup copies; the append
    // step must emit exactly the pairs with ≥1 Δ side (old–old pairs
    // belong to the index build). Same banding/threshold as
    // q_dedup_minhash, so its oracle-equality argument carries over;
    // the oracle restricts the brute-force pair set to Δ-touching pairs.
    "q_dedup_incr_minhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val delta = plantedDocs(t(s, dir, "documents"))
        .where(col("doc_id") >= 1000000L)
      val idx = graft.dedup.Incremental.minhashIndex(docs, "doc_id", "text",
        numHashes = 48, bands = 16, shingleN = 3)
      graft.dedup.Incremental.minhashAppend(idx, delta, "doc_id", "text",
        numHashes = 48, bands = 16, threshold = 0.5, shingleN = 3)._1
    }),
    "q_dedup_semantic" -> ((s, dir) =>
      // SemDeDup: cluster-scoped pairs under the SAME memoized quantizer
      // as q_ann_ivf; the oracle replays assignment (centroid literals,
      // min-index ties) and the within-cell pair scan EXACTLY, so
      // equality is structural — the only probabilistic element, the
      // threshold refine, reuses the q_dedup_cosine boundary argument
      // (planted twins at cosine ≈ 1, organic pairs far below 0.999)
      Dedup.semanticPairs(plantedVecs(t(s, dir, "embeddings")),
          "vec_id", "embedding", ivfCentroidsFor(s, dir), threshold = 0.999)
        .select(col("cell"), col("id_a"), col("id_b"))),

    // group centroids (class prototypes): the ordered-fold variant whose
    // sequential double summation the oracle replays exactly; exploded to
    // scalar rows so the compare is per-dimension. (The decimal-sum
    // production variant is spec-tied to this one — see SimilaritySpec.)
    "q_embed_centroid" -> ((s, dir) =>
      Similarity.groupCentroidsOrdered(
          t(s, dir, "embeddings").select((col("vec_id") % 16).as("grp"),
            col("vec_id"), col("embedding")),
          "grp", "embedding", "vec_id")
        .select(col("grp"), posexplode(col("centroid")).as(Seq("pos", "m")))),

    // -- first-class k-means clustering: topic/domain assignment in
    //    front of mixture balancing and cluster-scoped curation. Train
    //    on a bounded seeded sample driver-side; assignment is a narrow
    //    map with centroid literals (zero shuffle at any corpus size).
    //    The oracle replays argmax-dot with min-index ties over the
    //    IDENTICAL memoized centroids. -------------------------------------
    "q_kmeans" -> ((s, dir) =>
      t(s, dir, "embeddings").select(col("vec_id"),
        graft.ml.KMeans.assignTo(col("embedding"),
          kmeansCentroidsFor(s, dir)).as("cluster"))),

    // -- CLUSTER from the dialect — same defaults (seed/sample/iters) and
    //    the same content-keyed seeded sample as KMeans.fit, so the
    //    script's clusters match the memoized-centroid oracle exactly ------
    "q_pig_kmeans" -> ((s, dir) =>
      graft.piglatin.PigScript.query(s,
        """c = CLUSTER e BY embedding INTO 8;
           r = FOREACH c GENERATE vec_id, cluster;""",
        "r", tables = Map("e" -> t(s, dir, "embeddings")))),

    // -- similarity search (#62–63) ---------------------------------------------
    "q_ann_brute" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("vec"))
      val corpus = emb.where(col("vec_id") >= 5)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.bruteForceTopK(corpus, queries, k = AnnK)
        .select(col("qid"), col("id"), col("rank"))
    }),
    // hard negatives: per anchor, nearest corpus rows of a DIFFERENT label
    "q_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val anchors = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("label"),
          col("embedding").as("vec"))
      val corpus = emb.where(col("vec_id") >= 5)
        .select(col("vec_id").as("id"), col("label"),
          col("embedding").as("vec"))
      Similarity.hardNegatives(corpus, anchors, k = AnnK)
        .select(col("qid"), col("id"), col("rank"))
    }),
    "q_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("vec"))
      val corpus = emb.where(col("vec_id") >= 5)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.ivfTopKWith(corpus, queries, k = AnnK,
        centroids = ivfCentroidsFor(s, dir), nProbe = IvfProbe)
        .select(col("qid"), col("id"), col("rank"))
    }),
    "q_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("vec"))
      val corpus = emb.where(col("vec_id") >= 5)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.lshTopK(corpus, queries, k = AnnK,
        bands = LshBands, bitsPerBand = LshBits, seed = LshSeed)
        .select(col("qid"), col("id"), col("rank"))
    }),
    // PQ/ADC top-k: the corpus is scanned as m-byte code vectors, each
    // candidate scored by m table lookups (Jégou et al. 2011); the
    // oracle replays encode (argmin-L2² with min-index ties) and the
    // ADC ranking exactly from the same codebook literals
    "q_ann_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("vec"))
      val corpus = emb.where(col("vec_id") >= 5)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      graft.sim.Pq.adcTopK(corpus, queries, k = AnnK,
        codebooks = pqCodebooksFor(s, dir))
        .select(col("qid"), col("id"), col("rank"))
    }),
    // residual-encoded IVF-PQ (the classic billion-vector config):
    // corpus codes quantize v − coarse[cell], the query builds one ADC
    // table per probed cell; the oracle fuses the IVF cell-assignment
    // replay with the PQ encode/ADC replay over residual arithmetic
    "q_ann_ivfpq_res" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("vec"))
      val corpus = emb.where(col("vec_id") >= 5)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      graft.sim.Pq.ivfPqResidualTopK(corpus, queries, k = AnnK,
        coarse = ivfCentroidsFor(s, dir),
        codebooks = pqResCodebooksFor(s, dir), nProbe = IvfProbe)
        .select(col("qid"), col("id"), col("rank"))
    })
  )

  /** Benchmark-only production presets (see SparkEntry.benchOnly):
    * q_dedup_cosine_prod is the 6-band default of Dedup.embeddingCosine —
    * half the band self-join passes of the 12-band oracle variant, recall
    * ≈ 1 - 6e-6 at this threshold (contract spec'd in PipelineSpec). */
  val benchOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_cosine_prod" -> ((s, dir) =>
      Dedup.embeddingCosine(plantedVecs(t(s, dir, "embeddings")),
        "vec_id", "embedding", threshold = 0.999)
        .select(col("id_a"), col("id_b"))),
    // the billion-vector configuration (IVF candidate cells × ADC
    // scoring); correctness of the composition is covered by PqSpec's
    // model-differential, q_ann_pq oracles the ADC half exactly
    "q_ann_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("vec"))
      val corpus = emb.where(col("vec_id") >= 5)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      graft.sim.Pq.ivfPqTopK(corpus, queries, k = AnnK,
        coarse = ivfCentroidsFor(s, dir),
        codebooks = pqCodebooksFor(s, dir), nProbe = IvfProbe)
        .select(col("qid"), col("id"), col("rank"))
    }),
    // the LSH planes-scaling contract (Dedup.embeddingCosine scaladoc)
    // demonstrated: planes = 17 gives 131k buckets/band, so bucket
    // occupancy — and with it the n²/2^planes random-collision
    // candidate term — stays O(1) per vector up to ~10⁸ vectors, while
    // band-miss at cosine 0.999 is (1-(1-p)^17)^12 ≈ 1e-8. The 10-plane
    // default blows up its candidate set ~quadratically at 100× data
    // (measured: spill-OOM at 400k vectors); THIS row survives it.
    "q_dedup_cosine_scaled" -> ((s, dir) =>
      Dedup.embeddingCosine(plantedVecs(t(s, dir, "embeddings")),
        "vec_id", "embedding", threshold = 0.999, planes = 17, bands = 12)
        .select(col("id_a"), col("id_b"))),
    // the SemDeDup nCells-scaling contract (Dedup.semanticPairs
    // scaladoc: the paper uses 50k clusters at web scale) demonstrated:
    // 1024 cells keep within-cell pair work Σ|cell|² linear-ish where
    // the oracled 16-cell preset is quadratic at 100× data
    "q_dedup_semantic_scaled" -> ((s, dir) => {
      val vecs = plantedVecs(t(s, dir, "embeddings"))
      // 1024-cell k-means is ~seconds of driver time — memoized per
      // dir (the ivfCentroidsFor regime; production persists it via
      // the ModelStore instead of retraining per job)
      val cents = semScaledCache.getOrElseUpdate(dir,
        Similarity.ivfCentroids(vecs.select(col("vec_id").as("id"),
          col("embedding").as("vec")), nCells = 1024, seed = LshSeed))
      Dedup.semanticPairs(vecs, "vec_id", "embedding", cents,
          threshold = 0.999)
        .select(col("cell"), col("id_a"), col("id_b"))
    }),
    // production-vocabulary BPE: numMerges = 32768 (a real tokenizer's
    // merge budget). Correctness at scale is the same code path as the
    // oracled 200-merge q_bpe_tokens; this row proves the ENCODE cost
    // does not degrade with vocab size — encodeWord's per-merge rescan
    // is O(symbols) with merges applied ≤ len(word), independent of the
    // table size, and the memo amortizes it per DISTINCT word. Training
    // stops early when the sample's pair universe is exhausted (every
    // word one symbol), so the learned table is min(32768, exhaustion).
    "q_bpe_tokens_32k" -> ((s, dir) =>
      graft.dedup.Dedup.widen(t(s, dir, "documents"))
        .select(col("doc_id"),
          coalesce(graft.text.Bpe.tokenCount(col("text"),
            bpeMerges32kFor(s, dir)), lit(0L)).as("n_bpe"))),
    // ModelStore production path, regression-guarded in the round
    // ledger: these two rows BYPASS the in-process TrieMap memos and
    // route every model fetch through the on-disk content-addressed
    // store (bench run 1 trains + stores; runs 2-3 fingerprint the
    // input and LOAD — the median is therefore the warm cache path,
    // and any breakage in store round-trip or fingerprinting fails
    // the row). The absolute cold-vs-warm split lives in
    // bench/bench_r07_modelstore.json.
    "q_ann_ivfpq_res_cached" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("vec"))
      val corpus = emb.where(col("vec_id") >= 5)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val coarse = graft.core.ModelStore.cachedCentroids(BenchModelDir,
        s"ivf-$IvfCells-$LshSeed", corpus)(
        Similarity.ivfCentroids(corpus, nCells = IvfCells, seed = LshSeed))
      val books = graft.core.ModelStore.cachedCodebooks(BenchModelDir,
        s"pqres-$PqM-$PqK-$IvfCells-$LshSeed", corpus)(
        graft.sim.Pq.residualCodebooks(corpus, coarse, m = PqM, k = PqK,
          seed = LshSeed))
      graft.sim.Pq.ivfPqResidualTopK(corpus, queries, k = AnnK,
        coarse = coarse, codebooks = books, nProbe = IvfProbe)
        .select(col("qid"), col("id"), col("rank"))
    }),
    "q_bpe_tokens_cached" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.core.ModelStore.cachedMerges(BenchModelDir,
        s"bpe-$BpeMerges-$LshSeed", docs)(
        graft.text.Bpe.train(docs, "text", numMerges = BpeMerges,
          seed = LshSeed))
      graft.dedup.Dedup.widen(docs).select(col("doc_id"),
        coalesce(graft.text.Bpe.tokenCount(col("text"), merges), lit(0L))
          .as("n_bpe"))
    }),
    // TRULY-COLD regression rows: train per run, bypassing BOTH the
    // ModelStore (now the oracled rows' default) and the in-process
    // memos. These keep the absolute training cost visible in every
    // round ledger — if training regresses, only these rows move.
    "q_ann_ivfpq_res_cold" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("vec"))
      val corpus = emb.where(col("vec_id") >= 5)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val coarse = Similarity.ivfCentroids(corpus, nCells = IvfCells,
        seed = LshSeed)
      val books = graft.sim.Pq.residualCodebooks(corpus, coarse,
        m = PqM, k = PqK, seed = LshSeed)
      graft.sim.Pq.ivfPqResidualTopK(corpus, queries, k = AnnK,
        coarse = coarse, codebooks = books, nProbe = IvfProbe)
        .select(col("qid"), col("id"), col("rank"))
    }),
    "q_bpe_tokens_cold" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.text.Bpe.train(docs, "text",
        numMerges = BpeMerges, seed = LshSeed)
      graft.dedup.Dedup.widen(docs).select(col("doc_id"),
        coalesce(graft.text.Bpe.tokenCount(col("text"), merges), lit(0L))
          .as("n_bpe"))
    })
  )

  /** On-disk store for the `*_cached` bench rows (deliberately NOT the
    * SPARK_GRAFT_MODEL_DIR env hook — these rows must exercise the store
    * even when the driver leaves the env unset). */
  private val BenchModelDir = "target/model_store_bench"

  /** 1024-cell centroids for the scaled SemDeDup bench row, memoized
    * per sfDir. */
  private val semScaledCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[Array[Double]]]

  /** 32k-merge BPE table, memoized per sfDir (benchOnly — the encode
    * path is identical to [[bpeMergesFor]]'s, only the table grows). */
  private val bpe32kCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(String, String)]]
  def bpeMerges32kFor(s: SparkSession, dir: String): Seq[(String, String)] =
    bpe32kCache.getOrElseUpdate(dir, {
      val docs = t(s, dir, "documents")
      def train = graft.text.Bpe.train(docs, "text",
        numMerges = 32768, seed = LshSeed)
      modelDir.fold(train)(md => graft.core.ModelStore.cachedMerges(
        md, s"bpe-32768-$LshSeed", docs)(train))
    })

  // ======================= oracle SQL builders ==============================

  private val stopList = enStop.map(w => s"'$w'").mkString("[", ", ", "]")

  /** DuckDB expression for whitespace tokens, empties dropped (mirrors
    * TextOps.tokens). */
  private val toksExpr =
    """list_filter(string_split_regex(text, '\s+'), x -> x <> '')"""

  /** Planted-documents CTE body (mirrors plantedDocs: drop first token,
    * id + 1e6). */
  private val plantedDocsSql =
    s"""SELECT doc_id, text FROM documents
       UNION ALL
       SELECT doc_id + 1000000 AS doc_id,
              array_to_string($toksExpr[2:], ' ') AS text
       FROM documents"""

  /** Shingle-Jaccard pair oracle (mirrors Dedup.shingles + jaccard
    * refine: distinct word n-grams, whole-doc shingle for short docs,
    * |∩|/|∪| as double, id_a < id_b, empty docs dropped).
    *
    * SUBQUADRATIC since round 9: the replay applies its OWN AllPairs
    * prefix filter (first |s| − ⌈t·|s|⌉ + 1 shingles under DuckDB-hash
    * order — lossless for qualifying pairs under ANY global order, so
    * the order needn't match the engine's xxhash64 one) with the same
    * 2 ≤ prefix-df ≤ 50 window the engine uses, then exact-Jaccard
    * refines candidates against the full hashed shingle sets. The old
    * all-pairs form was quadratic in documents and TIMED OUT at sf0.1
    * (>600 s); this one runs in ~60 s (n=3) / ~5 s (n=5) at 4 threads.
    *
    * RECALL PRECONDITION (unchanged in substance): engine and oracle
    * each apply a prefix-df ∈ [2, 50] window under their own global
    * orders, so a qualifying pair whose every shared prefix shingle is
    * in > 50 document prefixes can be missed by either side — on this
    * corpus shingles are near-unique (median df = 1; planted copies df
    * 2), and any one-sided miss of a qualifying pair shows up as a loud
    * row-count/hash mismatch, verified hash-exact at sf0.001/0.01/0.1
    * (a cap of 20 was tested and FAILS — 8 true pairs lost — so the
    * [2, 50] window is load-bearing and matched to the engine's).
    * Jaccard is computed over 64-bit-hashed shingle sets exactly as the
    * engine does (equal absent hash collisions — none at these corpus
    * sizes), so the small-int division is bit-equal cross-engine. */
  private def jaccardPairsSql(n: Int, threshold: Double): String =
    s"""WITH docs AS ($plantedDocsSql),
       tok AS (SELECT doc_id, $toksExpr AS toks
               FROM docs WHERE length(trim(text)) > 0),
       sh AS (SELECT doc_id,
         list_distinct(CASE WHEN len(toks) < $n THEN [array_to_string(toks, ' ')]
           ELSE list_transform(range(1, len(toks) - ${n - 2}),
                i -> array_to_string(toks[i:i+${n - 1}], ' ')) END) AS s
         FROM tok),
       shh AS MATERIALIZED (SELECT doc_id,
         list_sort(list_transform(s, x -> hash(x))) AS hs FROM sh),
       pref AS (SELECT doc_id, unnest(
           hs[1 : len(hs) - CAST(ceil($threshold * len(hs)) AS INT) + 1]
         ) AS g FROM shh),
       gok AS (SELECT g FROM pref GROUP BY g HAVING count(*) BETWEEN 2 AND 50),
       exg AS (SELECT pref.doc_id, pref.g FROM pref JOIN gok USING (g)),
       cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM exg a JOIN exg b ON a.g = b.g AND a.doc_id < b.doc_id)
       SELECT id_a, id_b, jaccard FROM (
         SELECT c.id_a, c.id_b,
                len(list_intersect(sa.hs, sb.hs))::DOUBLE /
                (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs)))
                  AS jaccard
         FROM cand c JOIN shh sa ON sa.doc_id = c.id_a
                     JOIN shh sb ON sb.doc_id = c.id_b)
       WHERE jaccard >= $threshold"""

  /** Exact-overlap decontamination oracle (mirrors Decontaminate.report:
    * distinct word n-grams per doc via the Dedup.shingles universe —
    * whole-doc gram for short docs, empty docs dropped — inner join on
    * gram, per-doc distinct counts). The engine joins on xxhash64(gram);
    * the oracle joins the strings themselves, equal absent 64-bit
    * collisions (none at these corpus sizes). */
  // package-visible: the streaming variant (StreamQueries) shares it
  private[queries] def decontaminateSql(n: Int): String = {
    def grams(src: String) =
      s"""SELECT doc_id, unnest(list_distinct(
            CASE WHEN len(toks) < $n THEN [array_to_string(toks, ' ')]
            ELSE list_transform(range(1, len(toks) - ${n - 2}),
                 i -> array_to_string(toks[i:i+${n - 1}], ' ')) END)) AS g
          FROM (SELECT doc_id, $toksExpr AS toks FROM $src
                WHERE length(trim(text)) > 0)"""
    s"""WITH docs AS ($plantedDocsSql),
       corpus AS (SELECT * FROM docs WHERE doc_id >= 1000000),
       bench AS (SELECT * FROM docs
                 WHERE doc_id < 1000000 AND doc_id % 20 = 3),
       cg AS (${grams("corpus")}),
       bg AS (SELECT doc_id AS bench_id, g FROM (${grams("bench")}) b0)
       SELECT cg.doc_id, count(DISTINCT cg.g) AS matched_ngrams,
              count(DISTINCT bg.bench_id) AS bench_docs
       FROM cg JOIN bg ON cg.g = bg.g
       GROUP BY cg.doc_id"""
  }

  /** Brute-force fuzzy-decontamination oracle (mirrors
    * Decontaminate.fuzzyReport's refine: whole-doc shingle Jaccard with
    * the engine's exact |∩|/greatest(|a|+|b|-|∩|, 1) formula — small-int
    * double division, bit-equal cross-engine — then per-corpus-doc
    * distinct-bench count and max). Relies on the LSH candidate stage
    * having full recall on this corpus (see the q_dedup_minhash banding
    * note — identical parameters). */
  private def fuzzyDecontaminateSql(n: Int, threshold: Double): String = {
    def sh(src: String) =
      s"""SELECT doc_id, list_distinct(
            CASE WHEN len(toks) < $n THEN [array_to_string(toks, ' ')]
            ELSE list_transform(range(1, len(toks) - ${n - 2}),
                 i -> array_to_string(toks[i:i+${n - 1}], ' ')) END) AS s
          FROM (SELECT doc_id, $toksExpr AS toks FROM $src
                WHERE length(trim(text)) > 0)"""
    s"""WITH docs AS ($plantedDocsSql),
       corpus AS (SELECT * FROM docs WHERE doc_id >= 1000000),
       bench AS (SELECT * FROM docs
                 WHERE doc_id < 1000000 AND doc_id % 20 = 3),
       csh AS (${sh("corpus")}),
       bsh AS (${sh("bench")}),
       pairs AS (SELECT c.doc_id, b.doc_id AS bench_id,
           len(list_intersect(c.s, b.s))::DOUBLE /
           greatest(len(c.s) + len(b.s) - len(list_intersect(c.s, b.s)), 1)
             AS j
         FROM csh c CROSS JOIN bsh b)
       SELECT doc_id, count(DISTINCT bench_id) AS bench_docs,
              max(j) AS max_jaccard
       FROM pairs WHERE j >= $threshold GROUP BY doc_id"""
  }

  /** Batch-perceptron oracle: replays Classifier.trainPerceptron +
    * score over `documents` with the q_dsir hashed unigram+bigram
    * feature construction, unrolling each training epoch as three CTEs
    * (margins under the previous weights, misclassified-doc weight
    * deltas, the new weight table). All sums are integers over ±1
    * labels and count features, so every epoch — and the final margins
    * — replay hash-exactly regardless of engine or row order. */
  private def perceptronSql(buckets: Int, epochs: Int,
                            labelSql: String): String = {
    val head =
      s"""WITH tk AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
               x -> x <> '') AS t
           FROM documents),
         tk1 AS (SELECT doc_id, t FROM tk WHERE len(t) > 0),
         unig AS (SELECT doc_id, unnest(t) AS f FROM tk1),
         bigr AS (SELECT doc_id, t[i] || chr(31) || t[i + 1] AS f
           FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
                 FROM tk1 WHERE len(t) >= 2)),
         feats AS (SELECT doc_id,
             ('0x' || substr(md5(f), 1, 8))::BIGINT % $buckets AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
           FROM (SELECT * FROM unig UNION ALL SELECT * FROM bigr)
           GROUP BY 1, 2),
         featsb AS (SELECT * FROM feats UNION ALL
           SELECT doc_id, CAST($buckets AS BIGINT) AS bucket,
             CAST(1 AS BIGINT) AS cnt
           FROM documents),
         lab AS (SELECT doc_id,
             CAST(CASE WHEN $labelSql THEN 1 ELSE -1 END AS BIGINT) AS y
           FROM documents d),
         w0 AS (SELECT DISTINCT bucket, CAST(0 AS BIGINT) AS w
           FROM featsb)"""
    val eps = (1 to epochs).map { e =>
      s""",
         m$e AS (SELECT f.doc_id, CAST(SUM(f.cnt * w.w) AS BIGINT) AS m
           FROM featsb f JOIN w${e - 1} w USING (bucket) GROUP BY 1),
         u$e AS (SELECT f.bucket, CAST(SUM(l.y * f.cnt) AS BIGINT) AS dw
           FROM featsb f JOIN m$e USING (doc_id) JOIN lab l USING (doc_id)
           WHERE l.y * m$e.m <= 0 GROUP BY 1),
         w$e AS (SELECT w${e - 1}.bucket,
             w${e - 1}.w + COALESCE(u$e.dw, 0) AS w
           FROM w${e - 1} LEFT JOIN u$e USING (bucket))"""
    }.mkString
    s"""$head$eps
       SELECT f.doc_id, CAST(SUM(f.cnt * wf.w) AS BIGINT) AS margin,
         CAST(CASE WHEN SUM(f.cnt * wf.w) > 0 THEN 1 ELSE -1 END
              AS BIGINT) AS pred
       FROM featsb f JOIN w$epochs wf USING (bucket)
       GROUP BY 1"""
  }

  /** Naive-Bayes oracle: replays Classifier.trainNaiveBayes + score
    * over `documents` with the planted spam suffixes of q_classifier.
    * Per-class counts → fixed-point log₂ likelihood-ratio weights (the
    * q_dsir log CTE, den = 1) + a log-prior bias on the reserved
    * bucket; margins are integer sums, so the replay is hash-exact. */
  private def nbSql(buckets: Int): String =
    s"""WITH RECURSIVE docs1 AS (
         SELECT doc_id,
           CASE WHEN doc_id % 3 = 0
                THEN text || ' casino spam click casino'
                ELSE text END AS text
         FROM documents),
       tk AS (
         SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\s+'),
             x -> x <> '') AS t
         FROM docs1),
       tk1 AS (SELECT doc_id, t FROM tk WHERE len(t) > 0),
       unig AS (SELECT doc_id, unnest(t) AS f FROM tk1),
       bigr AS (SELECT doc_id, t[i] || chr(31) || t[i + 1] AS f
         FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
               FROM tk1 WHERE len(t) >= 2)),
       feats AS (SELECT doc_id,
           ('0x' || substr(md5(f), 1, 8))::BIGINT % $buckets AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
         FROM (SELECT * FROM unig UNION ALL SELECT * FROM bigr)
         GROUP BY 1, 2),
       featsb AS (SELECT * FROM feats UNION ALL
         SELECT doc_id, CAST($buckets AS BIGINT) AS bucket,
           CAST(1 AS BIGINT) AS cnt
         FROM docs1),
       lab AS (SELECT doc_id,
           CAST(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE -1 END AS BIGINT)
             AS y
         FROM docs1),
       fl AS (SELECT f.bucket, f.cnt, l.y
         FROM feats f JOIN lab l USING (doc_id)),
       pos AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS cp
         FROM fl WHERE y = 1 GROUP BY 1),
       neg AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS cn
         FROM fl WHERE y = -1 GROUP BY 1),
       ptot AS (SELECT CAST(COALESCE(SUM(cp), 0) AS BIGINT) AS np
         FROM pos),
       ntot AS (SELECT CAST(COALESCE(SUM(cn), 0) AS BIGINT) AS nn
         FROM neg),
       dcnt AS (SELECT
           CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS dp,
           CAST(SUM(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS dn
         FROM lab),
       bk AS (SELECT bucket, COALESCE(cp, 0) AS cp, COALESCE(cn, 0) AS cn
         FROM pos FULL OUTER JOIN neg USING (bucket)),
       xs AS (SELECT DISTINCT x FROM (
           SELECT cp + 1 AS x FROM bk
           UNION ALL SELECT cn + 1 FROM bk
           UNION ALL SELECT np + $buckets FROM ptot
           UNION ALL SELECT nn + $buckets FROM ntot
           UNION ALL SELECT dp + 1 FROM dcnt
           UNION ALL SELECT dn + 1 FROM dcnt)),
       b2 AS (SELECT x, length(bin(x)) - 1 AS e0,
           CAST(x AS DOUBLE)
             / CAST(1::BIGINT << (length(bin(x)) - 1) AS DOUBLE) AS y0
         FROM xs),
       fx AS (
         SELECT x,
           CASE WHEN y0 < 1 THEN y0 * 2 ELSE y0 END AS y,
           CASE WHEN y0 < 1 THEN e0 - 1 ELSE e0 END AS e,
           CAST(0 AS BIGINT) AS bits, 0 AS step FROM b2
         UNION ALL
         SELECT x,
           CASE WHEN y * y >= 2 THEN y * y / 2 ELSE y * y END, e,
           bits * 2 + CASE WHEN y * y >= 2 THEN 1 ELSE 0 END, step + 1
         FROM fx WHERE step < 16),
       lg AS (SELECT x, CAST(e AS BIGINT) * 65536 + bits AS lfx
         FROM fx WHERE step = 16),
       w AS (SELECT bk.bucket,
           (lp.lfx - lnp.lfx) - (lc.lfx - lnn.lfx) AS w
         FROM bk CROSS JOIN ptot CROSS JOIN ntot
         JOIN lg lp ON lp.x = bk.cp + 1
         JOIN lg lc ON lc.x = bk.cn + 1
         JOIN lg lnp ON lnp.x = ptot.np + $buckets
         JOIN lg lnn ON lnn.x = ntot.nn + $buckets
        UNION ALL
        SELECT CAST($buckets AS BIGINT) AS bucket, la.lfx - lb.lfx AS w
         FROM dcnt
         JOIN lg la ON la.x = dcnt.dp + 1
         JOIN lg lb ON lb.x = dcnt.dn + 1)
       SELECT f.doc_id,
         CAST(SUM(f.cnt * COALESCE(w.w, 0)) AS BIGINT) AS margin,
         CAST(CASE WHEN SUM(f.cnt * COALESCE(w.w, 0)) > 0
              THEN 1 ELSE -1 END AS BIGINT) AS pred
       FROM featsb f LEFT JOIN w USING (bucket)
       GROUP BY 1"""

  /** Composed training-pipeline oracle: replays the ENTIRE
    * q_training_pipeline chain — plant spam suffixes, Naive Bayes
    * train+score (the nbSql fragments), keep margin > 0, DSIR weights
    * over the kept corpus (second fixed-point log table, d_-prefixed
    * CTEs), top-K by (dsir_fx DESC, doc_id), seeded-md5 shuffle rank,
    * and the pack prefix sum over shuffle order — in one DuckDB SQL.
    * Every arithmetic step is integer or fx-log₂, so the final packed
    * layout is hash-exact. */
  private def trainingPipelineSql(buckets: Int, k: Int, seqLen: Long,
                                  seed: String, target: String): String =
    s"""WITH RECURSIVE docs1 AS (
         SELECT doc_id, source,
           CASE WHEN doc_id % 3 = 0
                THEN text || ' casino spam click casino'
                ELSE text END AS text
         FROM documents),
       tk AS (
         SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\s+'),
             x -> x <> '') AS t
         FROM docs1),
       tk1 AS (SELECT doc_id, t FROM tk WHERE len(t) > 0),
       unig AS (SELECT doc_id, unnest(t) AS f FROM tk1),
       bigr AS (SELECT doc_id, t[i] || chr(31) || t[i + 1] AS f
         FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
               FROM tk1 WHERE len(t) >= 2)),
       feats AS MATERIALIZED (SELECT doc_id,
           ('0x' || substr(md5(f), 1, 8))::BIGINT % $buckets AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
         FROM (SELECT * FROM unig UNION ALL SELECT * FROM bigr)
         GROUP BY 1, 2),
       featsb AS MATERIALIZED (SELECT * FROM feats UNION ALL
         SELECT doc_id, CAST($buckets AS BIGINT) AS bucket,
           CAST(1 AS BIGINT) AS cnt
         FROM docs1),
       lab AS (SELECT doc_id,
           CAST(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE -1 END AS BIGINT)
             AS y
         FROM docs1),
       fl AS (SELECT f.bucket, f.cnt, l.y
         FROM feats f JOIN lab l USING (doc_id)),
       pos AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS cp
         FROM fl WHERE y = 1 GROUP BY 1),
       neg AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS cn
         FROM fl WHERE y = -1 GROUP BY 1),
       ptot AS (SELECT CAST(COALESCE(SUM(cp), 0) AS BIGINT) AS np
         FROM pos),
       ntot AS (SELECT CAST(COALESCE(SUM(cn), 0) AS BIGINT) AS nn
         FROM neg),
       dcnt AS (SELECT
           CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS dp,
           CAST(SUM(CASE WHEN y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS dn
         FROM lab),
       bk AS (SELECT bucket, COALESCE(cp, 0) AS cp, COALESCE(cn, 0) AS cn
         FROM pos FULL OUTER JOIN neg USING (bucket)),
       xs AS (SELECT DISTINCT x FROM (
           SELECT cp + 1 AS x FROM bk
           UNION ALL SELECT cn + 1 FROM bk
           UNION ALL SELECT np + $buckets FROM ptot
           UNION ALL SELECT nn + $buckets FROM ntot
           UNION ALL SELECT dp + 1 FROM dcnt
           UNION ALL SELECT dn + 1 FROM dcnt)),
       b2 AS (SELECT x, length(bin(x)) - 1 AS e0,
           CAST(x AS DOUBLE)
             / CAST(1::BIGINT << (length(bin(x)) - 1) AS DOUBLE) AS y0
         FROM xs),
       fx AS (
         SELECT x,
           CASE WHEN y0 < 1 THEN y0 * 2 ELSE y0 END AS y,
           CASE WHEN y0 < 1 THEN e0 - 1 ELSE e0 END AS e,
           CAST(0 AS BIGINT) AS bits, 0 AS step FROM b2
         UNION ALL
         SELECT x,
           CASE WHEN y * y >= 2 THEN y * y / 2 ELSE y * y END, e,
           bits * 2 + CASE WHEN y * y >= 2 THEN 1 ELSE 0 END, step + 1
         FROM fx WHERE step < 16),
       lg AS MATERIALIZED (SELECT x, CAST(e AS BIGINT) * 65536 + bits AS lfx
         FROM fx WHERE step = 16),
       w AS MATERIALIZED (SELECT bk.bucket,
           (lp.lfx - lnp.lfx) - (lc.lfx - lnn.lfx) AS w
         FROM bk CROSS JOIN ptot CROSS JOIN ntot
         JOIN lg lp ON lp.x = bk.cp + 1
         JOIN lg lc ON lc.x = bk.cn + 1
         JOIN lg lnp ON lnp.x = ptot.np + $buckets
         JOIN lg lnn ON lnn.x = ntot.nn + $buckets
        UNION ALL
        SELECT CAST($buckets AS BIGINT) AS bucket, la.lfx - lb.lfx AS w
         FROM dcnt
         JOIN lg la ON la.x = dcnt.dp + 1
         JOIN lg lb ON lb.x = dcnt.dn + 1),
       marg AS MATERIALIZED (SELECT f.doc_id,
           CAST(SUM(f.cnt * COALESCE(w.w, 0)) AS BIGINT) AS margin
         FROM featsb f LEFT JOIN w USING (bucket)
         GROUP BY 1),
       kept AS MATERIALIZED (SELECT doc_id FROM marg WHERE margin > 0),
       kfeats AS MATERIALIZED (SELECT f.* FROM feats f JOIN kept USING (doc_id)),
       raw2 AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS cr
         FROM kfeats GROUP BY 1),
       tgt2 AS (SELECT f.bucket, CAST(SUM(f.cnt) AS BIGINT) AS ct
         FROM kfeats f JOIN docs1 d USING (doc_id)
         WHERE d.source = '$target' GROUP BY 1),
       rtot2 AS (SELECT CAST(COALESCE(SUM(cr), 0) AS BIGINT) AS nr
         FROM raw2),
       ttot2 AS (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) AS nt
         FROM tgt2),
       wj2 AS (SELECT r.bucket, r.cr, COALESCE(g.ct, 0) AS ct
         FROM raw2 r LEFT JOIN tgt2 g USING (bucket)),
       d_xs AS (SELECT DISTINCT x FROM (
           SELECT ct + 1 AS x FROM wj2
           UNION ALL SELECT cr + 1 FROM wj2
           UNION ALL SELECT nt + $buckets FROM ttot2
           UNION ALL SELECT nr + $buckets FROM rtot2)),
       d_b2 AS (SELECT x, length(bin(x)) - 1 AS e0,
           CAST(x AS DOUBLE)
             / CAST(1::BIGINT << (length(bin(x)) - 1) AS DOUBLE) AS y0
         FROM d_xs),
       d_fx AS (
         SELECT x,
           CASE WHEN y0 < 1 THEN y0 * 2 ELSE y0 END AS y,
           CASE WHEN y0 < 1 THEN e0 - 1 ELSE e0 END AS e,
           CAST(0 AS BIGINT) AS bits, 0 AS step FROM d_b2
         UNION ALL
         SELECT x,
           CASE WHEN y * y >= 2 THEN y * y / 2 ELSE y * y END, e,
           bits * 2 + CASE WHEN y * y >= 2 THEN 1 ELSE 0 END, step + 1
         FROM d_fx WHERE step < 16),
       d_lg AS MATERIALIZED (SELECT x, CAST(e AS BIGINT) * 65536 + bits AS lfx
         FROM d_fx WHERE step = 16),
       w2 AS MATERIALIZED (SELECT wj2.bucket,
           (lt.lfx - lnt.lfx) - (lr.lfx - lnr.lfx) AS w_fx
         FROM wj2 CROSS JOIN rtot2 CROSS JOIN ttot2
         JOIN d_lg lt ON lt.x = wj2.ct + 1
         JOIN d_lg lr ON lr.x = wj2.cr + 1
         JOIN d_lg lnt ON lnt.x = ttot2.nt + $buckets
         JOIN d_lg lnr ON lnr.x = rtot2.nr + $buckets),
       dscore AS MATERIALIZED (SELECT f.doc_id,
           CAST(SUM(f.cnt * w2.w_fx) AS BIGINT) AS dsir_fx
         FROM kfeats f JOIN w2 USING (bucket)
         GROUP BY 1),
       sel AS (SELECT doc_id FROM dscore
         QUALIFY row_number() OVER (ORDER BY dsir_fx DESC, doc_id)
           <= $k),
       sh AS (SELECT s.doc_id,
           CAST(row_number() OVER (
             ORDER BY md5(coalesce(s.doc_id::VARCHAR, chr(30))
               || '|' || '$seed')) - 1 AS BIGINT) AS shuffle_pos
         FROM sel s),
       tok AS (SELECT d.doc_id,
           coalesce(len(list_filter(string_split_regex(d.text, '\\s+'),
             x -> x <> '')), 0) AS n_tok
         FROM docs1 d JOIN sh USING (doc_id)),
       packed AS (SELECT sh.doc_id, sh.shuffle_pos, t.n_tok,
           SUM(t.n_tok) OVER (ORDER BY sh.shuffle_pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t.n_tok
             AS tok_start
         FROM sh JOIN tok t USING (doc_id))
       SELECT doc_id, shuffle_pos, CAST(n_tok AS BIGINT) AS n_tok,
         CAST(tok_start AS BIGINT) AS tok_start,
         CAST(tok_start // $seqLen AS BIGINT) AS seq_first,
         CAST((tok_start + greatest(n_tok, 1) - 1) // $seqLen AS BIGINT)
           AS seq_last
       FROM packed"""

  /** Mixture-sampling oracle: replays the ENTIRE rate derivation — per-
    * stratum counts, the binding min(n/w), floor to integer percent —
    * with the same IEEE op order as the engine ((100·w)·T)/n, then the
    * shared md5-bucket filter. Every arithmetic step is either integral
    * or a single double multiply/divide, so the derived percents are
    * identical and the row set is hash-exact. */
  private def mixtureSampleSql(targets: Map[String, Double]): String = {
    val tRows = targets.toSeq.sortBy(_._1).map { case (g, w) =>
      s"SELECT '$g' AS grp, CAST($w AS DOUBLE) AS w" }
      .mkString(" UNION ALL ")
    s"""WITH t AS ($tRows),
       c AS (SELECT lang AS grp, CAST(count(*) AS DOUBLE) AS n
             FROM documents GROUP BY lang),
       j AS (SELECT c.grp, t.w, c.n FROM c JOIN t USING (grp)),
       r AS (SELECT grp,
               CAST(floor(CAST(100.0 AS DOUBLE) * w *
                 (SELECT min(n / w) FROM j) / n) AS INT) AS pct
             FROM j)
       SELECT d.doc_id, d.lang FROM documents d JOIN r ON d.lang = r.grp
       WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 100
             < r.pct"""
  }

  /** Structural SemDeDup oracle for a given trained quantizer: embeds
    * the centroids as literals, replays nearest-cell assignment (argmin
    * of -dot, min-index ties — the ivfAnnSql CASE chain) and the
    * within-cell ordered pair scan, then the cosine threshold. */
  private def semanticPairsSql(centroids: Seq[Array[Double]],
                               threshold: Double): String = {
    val n = centroids.length
    val ndDefs = centroids.zipWithIndex.map { case (c, i) =>
      s"(0.0 - list_dot_product(v, ${doubleList(c.toSeq)})) AS nd$i"
    }.mkString(", ")
    val assign = (0 until n).map { i =>
      val conds = ((i + 1) until n).map(j => s"nd$i <= nd$j")
      if (conds.isEmpty) s"ELSE $i"
      else s"WHEN ${conds.mkString(" AND ")} THEN $i"
    }.mkString(" ")
    s"""WITH vecs AS ($plantedVecsSql),
       vd AS (SELECT vec_id, v, $ndDefs FROM vecs),
       va AS (SELECT vec_id, v, CASE $assign END AS cell FROM vd)
       SELECT cell, id_a, id_b FROM (
         SELECT l.cell AS cell, l.vec_id AS id_a, r.vec_id AS id_b,
                list_cosine_similarity(l.v, r.v) AS c
         FROM va l JOIN va r ON l.cell = r.cell AND l.vec_id < r.vec_id)
       WHERE c >= $threshold"""
  }

  /** Exact simhash replica: per-token 60-bit md5 hash, ±1 votes per bit,
    * packed sign vector — then brute-force pairs within the Hamming
    * radius. Bit-for-bit the algorithm in
    * [[graft.functions.SimhashExpr]]. */
  private def simhashPairsSql(maxDist: Int): String = {
    // vote for bit b: +1 per token with bit set, -1 otherwise
    // = 2*count_set - n  (no unnest: empty docs keep their row, sig = 0)
    val packed = (0 until 60).map { b =>
      s"""(CASE WHEN 2 * len(list_filter(h, x -> ((x >> $b) & 1) = 1)) - len(h) > 0
         THEN ${1L << b}::BIGINT ELSE 0::BIGINT END)"""
    }.mkString(" + ")
    s"""WITH docs AS ($plantedDocsSql),
       hs AS (SELECT doc_id,
         list_transform($toksExpr,
           t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS h
         FROM docs),
       sig AS (SELECT doc_id, ($packed) AS sh FROM hs)
       SELECT id_a, id_b, hamming FROM (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
       WHERE hamming <= $maxDist"""
  }

  /** Planted-vectors CTE body (mirrors plantedVecs: first component
    * +0.001, id + 1e6) — shared by the cosine-pair and SemDeDup oracles. */
  private val plantedVecsSql =
    """SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       UNION ALL
       SELECT vec_id + 1000000,
              list_transform(CAST(embedding AS DOUBLE[]),
                (x, i) -> CASE WHEN i = 1 THEN x + 0.001 ELSE x END)
       FROM embeddings"""

  /** Brute-force embedding-cosine pair oracle (mirrors plantedVecs +
    * threshold refine; pair set only — the banded LSH stage has
    * effectively-exact recall at this threshold, see q_dedup_cosine). */
  private def cosinePairsSql(threshold: Double): String =
    s"""WITH vecs AS ($plantedVecsSql)
       SELECT id_a, id_b FROM (
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                list_cosine_similarity(a.v, b.v) AS c
         FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id)
       WHERE c >= $threshold"""

  /** Stopword-argmax langId replica (same profiles, same precedence:
    * CJK-script overrides, then first language achieving the max score,
    * 'und' when no stopword hits). */
  private def langIdSql: String = {
    val profiles = TextOps.stopwordProfiles
    val scoreDefs = profiles.map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(toks, x -> list_contains($list, x))) AS s_$lang"
    }.mkString(", ")
    val langs = profiles.map(_._1)
    val allScores = langs.map(l => s"s_$l").mkString(", ")
    // fold semantics: strict > replaces, so the FIRST profile achieving
    // the max wins ties — branch i fires when s_i >= every later score
    val argmax = langs.zipWithIndex.map { case (l, i) =>
      val laterConds = langs.drop(i + 1).map(l2 => s"s_$l >= s_$l2")
      if (laterConds.isEmpty) s"ELSE '$l'"
      else s"WHEN ${laterConds.mkString(" AND ")} THEN '$l'"
    }.mkString(" ")
    s"""WITH tok AS (SELECT doc_id, text,
         list_transform($toksExpr, x -> lower(x)) AS toks FROM documents),
       sc AS (SELECT doc_id, text, $scoreDefs FROM tok)
       SELECT doc_id,
         CASE WHEN regexp_matches(text, '[\\p{Han}]') THEN 'zh'
              WHEN regexp_matches(text, '[\\p{Hiragana}\\p{Katakana}]') THEN 'ja'
              WHEN regexp_matches(text, '[\\p{Hangul}]') THEN 'ko'
              WHEN greatest($allScores) = 0 THEN 'und'
              $argmax END AS lang_guess
       FROM sc"""
  }

  private def doubleList(a: Seq[Double]): String =
    a.mkString("[", ", ", "]")

  /** Lowercased-tokens CTE body shared by the relevance oracles (mirrors
    * Relevance.terms = TextOps.tokens ∘ lower). */
  private val lowerToksSql =
    """SELECT doc_id,
       list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
       FROM documents"""

  /** Exact replica of Relevance.tfIdfTopKExact: wordcount tf, df over the
    * tf rows, integer idf = length(bin(N)) − (length(bin(df)) − 1) —
    * length(bin(x)) renders identical digits on both engines, so scores,
    * ties and therefore ranks agree exactly (no float log anywhere). */
  private def tfIdfSql(k: Int): String =
    s"""WITH tok AS ($lowerToksSql),
       tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
              FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
              GROUP BY doc_id, term),
       df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
       n AS (SELECT count(*)::BIGINT AS n FROM documents),
       ranked AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
           (tf.tf * (length(bin(n.n)) - (length(bin(df.df)) - 1)))::BIGINT
             AS score,
           row_number() OVER (PARTITION BY tf.doc_id
             ORDER BY tf.tf * (length(bin(n.n)) - (length(bin(df.df)) - 1))
               DESC, tf.term)::BIGINT AS rnk
         FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
       SELECT doc_id, term, tf, df, score, rnk FROM ranked WHERE rnk <= $k"""

  /** Bit-exact replica of Relevance.bm25: the corpus scalars reduce in a
    * CTE, each per-term contribution mirrors the engine's expression tree
    * parenthesis-for-parenthesis, contributions add in the same literal
    * term order, and the constants are the SAME pre-evaluated Scala
    * doubles (toString round-trips through DuckDB's decimal→double
    * promotion — the doubleList/hyperplane precedent). Only IEEE basic
    * ops appear, so every engine rounds identically. */
  private def bm25Sql(termsQ: Seq[String], k1: Double, b: Double): String = {
    val dfAggs = termsQ.indices.map { i =>
      s"sum(CASE WHEN list_contains(toks, '${termsQ(i)}') THEN 1 ELSE 0 END)::BIGINT AS df_$i"
    }.mkString(",\n           ")
    val dlSql = "CAST(len(toks) AS DOUBLE)"
    val avgdlSql = "(CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))"
    val contribs = termsQ.indices.map { i =>
      val tfSql =
        s"CAST(len(list_filter(toks, x -> x = '${termsQ(i)}')) AS DOUBLE)"
      val idfSql =
        s"CAST(length(bin(n)) - (length(bin(df_$i)) - 1) AS DOUBLE)"
      s"(($idfSql * ($tfSql * ${k1 + 1.0})) / " +
        s"($tfSql + $k1 * (${1.0 - b} + $b * ($dlSql / $avgdlSql))))"
    }.mkString(" + ")
    s"""WITH tok AS ($lowerToksSql),
       stats AS (SELECT count(*)::BIGINT AS n,
           sum(len(toks))::BIGINT AS sumdl,
           $dfAggs
         FROM tok)
       SELECT doc_id, score FROM (
         SELECT tok.doc_id, $contribs AS score
         FROM tok CROSS JOIN stats)
       WHERE score > 0.0"""
  }

  /** Exact SQL replica of sign-LSH bucketed ANN: the seeded hyperplanes
    * are embedded as literals; bucket bits, the (band, bucket) equi-join,
    * cosine scoring and the per-query rank replay the engine exactly.
    * (list_dot_product sums sequentially like the engine's fold, so the
    * sign bits — and therefore the candidate sets — agree.) */
  private def lshAnnSql: String = {
    val planeSets = (0 until LshBands).map(b =>
      Similarity.hyperplanes(LshBits, EmbDim, LshSeed + b))
    def bandSelects(src: String, idName: String): String =
      (0 until LshBands).map { b =>
        val bucket = planeSets(b).zipWithIndex.map { case (p, j) =>
          s"(CASE WHEN list_dot_product(v, ${doubleList(p)}) >= 0.0 " +
            s"THEN ${1L << j}::BIGINT ELSE 0::BIGINT END)"
        }.mkString(" + ")
        s"SELECT $idName, $b AS band, ($bucket) AS bucket FROM $src"
      }.mkString(" UNION ALL ")
    s"""WITH c AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings WHERE vec_id >= 5),
       q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings WHERE vec_id < 5),
       cb AS (${bandSelects("c", "id")}),
       qb AS (${bandSelects("q", "qid")}),
       cand AS (SELECT DISTINCT qb.qid, cb.id
                FROM cb JOIN qb ON cb.band = qb.band AND cb.bucket = qb.bucket),
       scored AS (SELECT cand.qid, cand.id,
         row_number() OVER (PARTITION BY cand.qid
           ORDER BY list_cosine_similarity(c.v, q.v) DESC, cand.id) AS rank
         FROM cand JOIN c ON cand.id = c.id JOIN q ON cand.qid = q.qid)
       SELECT qid, id, rank FROM scored WHERE rank <= $AnnK"""
  }

  /** Exact SQL replica of IVF ANN for a given trained quantizer: embeds
    * the centroids as literals, replays nearest-cell assignment (argmin
    * of -dot, ties to the lowest index — the engine's struct sort), the
    * nProbe cell probing, and the per-query cosine rank. */
  /** q_kmeans oracle: argmax dot (= argmin of -dot) with min-index ties
    * over the memoized centroid literals — the NearestCells rule. */
  private def kmeansSql(centroids: Seq[Array[Double]]): String = {
    val n = centroids.length
    val ndDefs = centroids.zipWithIndex.map { case (c, i) =>
      s"(0.0 - list_dot_product(v, ${doubleList(c.toSeq)})) AS nd$i"
    }.mkString(", ")
    val assign = (0 until n).map { i =>
      val conds = ((i + 1) until n).map(j => s"nd$i <= nd$j")
      if (conds.isEmpty) s"ELSE $i"
      else s"WHEN ${conds.mkString(" AND ")} THEN $i"
    }.mkString(" ")
    s"""WITH c0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
       cd AS (SELECT vec_id, $ndDefs FROM c0)
       SELECT vec_id, CASE $assign END AS cluster FROM cd"""
  }

  private def ivfAnnSql(centroids: Seq[Array[Double]]): String = {
    val n = centroids.length
    val ndDefs = centroids.zipWithIndex.map { case (c, i) =>
      s"(0.0 - list_dot_product(v, ${doubleList(c.toSeq)})) AS nd$i"
    }.mkString(", ")
    // first i with nd_i <= nd_j for all j > i  == argmin with min-index ties
    val assign = (0 until n).map { i =>
      val conds = ((i + 1) until n).map(j => s"nd$i <= nd$j")
      if (conds.isEmpty) s"ELSE $i"
      else s"WHEN ${conds.mkString(" AND ")} THEN $i"
    }.mkString(" ")
    val probeUnion = (0 until n).map { i =>
      s"SELECT qid, v, $i AS cell, nd$i AS nd FROM qd"
    }.mkString(" UNION ALL ")
    s"""WITH c0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings WHERE vec_id >= 5),
       cd AS (SELECT id, v, $ndDefs FROM c0),
       ca AS (SELECT id, v, CASE $assign END AS cell FROM cd),
       q0 AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id < 5),
       qd AS (SELECT qid, v, $ndDefs FROM q0),
       qc AS ($probeUnion),
       qp AS (SELECT qid, v, cell FROM (
         SELECT qid, v, cell,
           row_number() OVER (PARTITION BY qid ORDER BY nd, cell) AS pr
         FROM qc) WHERE pr <= $IvfProbe),
       scored AS (SELECT qp.qid, ca.id,
         row_number() OVER (PARTITION BY qp.qid
           ORDER BY list_cosine_similarity(ca.v, qp.v) DESC, ca.id) AS rank
         FROM ca JOIN qp ON ca.cell = qp.cell)
       SELECT qid, id, rank FROM scored WHERE rank <= $AnnK"""
  }

  /** Independent DuckDB replay of PQ encode + ADC ranking from the same
    * codebook literals. Exactness argument: every per-subspace L2² is a
    * sequential ascending-dim left fold — engine `aggregate(zip_with)`
    * starts (0 + t₀) + t₁ + …, DuckDB `list_reduce` starts t₀ + t₁ + …,
    * and 0 + t₀ ≡ t₀ in IEEE — so the distances are bit-identical;
    * argmin ties go to the lowest centroid index on both sides (the
    * first-i-dominates CASE chain == the engine's (d, i) sort); the ADC
    * sum is the same left-assoc m-term addition. Centroid literals cast
    * through DECIMAL→DOUBLE, which is correctly-rounded and therefore
    * equals the engine's direct double parse. */
  private def pqAnnSql(codebooks: Seq[Seq[Array[Double]]]): String = {
    val m = codebooks.length
    val k = codebooks.head.length
    val ds = codebooks.head.head.length
    def dExpr(i: Int, c: Array[Double]): String =
      s"list_reduce(list_transform(list_zip(v[${i * ds + 1}:${i * ds + ds}], " +
        s"CAST(${doubleList(c.toSeq)} AS DOUBLE[])), " +
        "p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b)"
    val cdDefs = (for { i <- 0 until m; c <- 0 until k }
      yield s"${dExpr(i, codebooks(i)(c))} AS d${i}_$c").mkString(", ")
    // first c with d_c <= d_j for all j > c  == argmin with min-index ties
    def codeCase(i: Int): String = (0 until k).map { c =>
      val conds = ((c + 1) until k).map(j => s"d${i}_$c <= d${i}_$j")
      if (conds.isEmpty) s"ELSE $c"
      else s"WHEN ${conds.mkString(" AND ")} THEN $c"
    }.mkString(" ")
    val codeDefs = (0 until m)
      .map(i => s"CASE ${codeCase(i)} END AS code$i").mkString(", ")
    val qdDefs = (for { i <- 0 until m; c <- 0 until k }
      yield s"${dExpr(i, codebooks(i)(c))} AS q${i}_$c").mkString(", ")
    val adist = (0 until m).map { i =>
      s"(CASE ca.code$i ${(0 until k)
        .map(c => s"WHEN $c THEN qd.q${i}_$c").mkString(" ")} END)"
    }.mkString(" + ")
    s"""WITH c0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings WHERE vec_id >= 5),
       cd AS (SELECT id, $cdDefs FROM c0),
       ca AS (SELECT id, $codeDefs FROM cd),
       q0 AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id < 5),
       qd AS (SELECT qid, $qdDefs FROM q0),
       scored AS (SELECT qd.qid, ca.id,
         row_number() OVER (PARTITION BY qd.qid
           ORDER BY ($adist) ASC, ca.id) AS rank
         FROM ca CROSS JOIN qd)
       SELECT qid, id, rank FROM scored WHERE rank <= $AnnK"""
  }

  /** Independent DuckDB replay of residual-encoded IVF-PQ: the
    * [[ivfAnnSql]] cell-assignment machinery (max-dot argmin CASE chain,
    * probe ranking) fused with the [[pqAnnSql]] encode/ADC machinery,
    * but every distance runs over the RESIDUAL r = v − coarse[cell]
    * (elementwise list subtraction — exact on both engines), and the
    * query has one table per probed cell. Exactness arguments identical
    * to the two parents. */
  private def pqResAnnSql(coarse: Seq[Array[Double]],
                          codebooks: Seq[Seq[Array[Double]]]): String = {
    val n = coarse.length
    val m = codebooks.length
    val k = codebooks.head.length
    val ds = codebooks.head.head.length
    val ndDefs = coarse.zipWithIndex.map { case (c, i) =>
      s"(0.0 - list_dot_product(v, ${doubleList(c.toSeq)})) AS nd$i"
    }.mkString(", ")
    val assign = (0 until n).map { i =>
      val conds = ((i + 1) until n).map(j => s"nd$i <= nd$j")
      if (conds.isEmpty) s"ELSE $i"
      else s"WHEN ${conds.mkString(" AND ")} THEN $i"
    }.mkString(" ")
    val coarseCase = s"CASE cell ${(0 until n).map(i =>
      s"WHEN $i THEN CAST(${doubleList(coarse(i).toSeq)} AS DOUBLE[])")
      .mkString(" ")} END"
    def dExpr(vcol: String, i: Int, c: Array[Double]): String =
      s"list_reduce(list_transform(list_zip($vcol[${i * ds + 1}:${i * ds + ds}], " +
        s"CAST(${doubleList(c.toSeq)} AS DOUBLE[])), " +
        "p -> (p[1] - p[2]) * (p[1] - p[2])), (a, b) -> a + b)"
    val crdDefs = (for { i <- 0 until m; c <- 0 until k }
      yield s"${dExpr("r", i, codebooks(i)(c))} AS d${i}_$c").mkString(", ")
    def codeCase(i: Int): String = (0 until k).map { c =>
      val conds = ((c + 1) until k).map(j => s"d${i}_$c <= d${i}_$j")
      if (conds.isEmpty) s"ELSE $c"
      else s"WHEN ${conds.mkString(" AND ")} THEN $c"
    }.mkString(" ")
    val codeDefs = (0 until m)
      .map(i => s"CASE ${codeCase(i)} END AS code$i").mkString(", ")
    val qrdDefs = (for { i <- 0 until m; c <- 0 until k }
      yield s"${dExpr("r", i, codebooks(i)(c))} AS q${i}_$c").mkString(", ")
    val probeUnion = (0 until n).map { i =>
      s"SELECT qid, v, $i AS cell, nd$i AS nd FROM qd0"
    }.mkString(" UNION ALL ")
    val adist = (0 until m).map { i =>
      s"(CASE cc.code$i ${(0 until k)
        .map(c => s"WHEN $c THEN qrd.q${i}_$c").mkString(" ")} END)"
    }.mkString(" + ")
    s"""WITH c0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings WHERE vec_id >= 5),
       cd AS (SELECT id, v, $ndDefs FROM c0),
       ca AS (SELECT id, v, CASE $assign END AS cell FROM cd),
       cr AS (SELECT id, cell,
         list_transform(list_zip(v, $coarseCase), p -> p[1] - p[2]) AS r
         FROM ca),
       crd AS (SELECT id, cell, $crdDefs FROM cr),
       cc AS (SELECT id, cell, $codeDefs FROM crd),
       q0 AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id < 5),
       qd0 AS (SELECT qid, v, $ndDefs FROM q0),
       qc AS ($probeUnion),
       qp AS (SELECT qid, v, cell FROM (
         SELECT qid, v, cell,
           row_number() OVER (PARTITION BY qid ORDER BY nd, cell) AS pr
         FROM qc) WHERE pr <= $IvfProbe),
       qr AS (SELECT qid, cell,
         list_transform(list_zip(v, $coarseCase), p -> p[1] - p[2]) AS r
         FROM qp),
       qrd AS (SELECT qid, cell, $qrdDefs FROM qr),
       scored AS (SELECT qrd.qid, cc.id,
         row_number() OVER (PARTITION BY qrd.qid
           ORDER BY ($adist) ASC, cc.id) AS rank
         FROM cc JOIN qrd ON cc.cell = qrd.cell)
       SELECT qid, id, rank FROM scored WHERE rank <= $AnnK"""
  }

  /** Independent DuckDB replay of learned-BPE encoding: the merge table
    * becomes a list-keyed MAP literal (list keys — a separator-joined
    * string key would alias ("ab","c") with ("a","bc")); DISTINCT words
    * initialize as rune arrays + '</w>' (RE2 `.` == Java codePoints) and
    * a recursive CTE repeatedly merges the lowest-rank pair at its
    * leftmost position — one merge per step, provably equivalent to the
    * engine's all-occurrences pass because a merge can only create pairs
    * involving the merged symbol, whose own merges rank LATER. Terminal
    * states (no ranked pair) carry each word's final token count, summed
    * back per doc weighted by occurrence. */
  private def bpeTokensSql(merges: Seq[(String, String)]): String = {
    def esc(s: String) = s.replace("'", "''")
    val mapLit = merges.zipWithIndex
      .map { case ((a, b), i) => s"['${esc(a)}','${esc(b)}']: $i" }
      .mkString("MAP {", ", ", "}")
    s"""WITH RECURSIVE words AS (
         SELECT doc_id, w, count(*) AS cnt FROM (
           SELECT doc_id,
             unnest(list_filter(string_split_regex(text, '\\s+'),
               x -> x <> '')) AS w
           FROM documents)
         GROUP BY doc_id, w),
       enc(w, toks) AS (
         SELECT w, list_append(regexp_extract_all(w, '.'), '</w>')
         FROM (SELECT DISTINCT w FROM words)
         UNION ALL
         SELECT w, list_concat(list_concat(
             toks[1:best.p-1], [toks[best.p] || toks[best.p+1]]),
             toks[best.p+2:])
         FROM (
           SELECT w, toks,
             list_sort(list_filter(
               list_transform(range(1, len(toks)), i ->
                 {'r': map_extract($mapLit, [toks[i], toks[i+1]])[1],
                  'p': i}),
               x -> x.r IS NOT NULL))[1] AS best
           FROM enc)
         WHERE best IS NOT NULL),
       final AS (
         SELECT w, len(toks) AS n FROM (
           SELECT w, toks,
             list_sort(list_filter(
               list_transform(range(1, len(toks)), i ->
                 {'r': map_extract($mapLit, [toks[i], toks[i+1]])[1],
                  'p': i}),
               x -> x.r IS NOT NULL))[1] AS best
           FROM enc)
         WHERE best IS NULL)
       SELECT d.doc_id,
         CAST(coalesce(SUM(words.cnt * final.n), 0) AS BIGINT) AS n_bpe
       FROM documents d
       LEFT JOIN words ON d.doc_id = words.doc_id
       LEFT JOIN final ON words.w = final.w
       GROUP BY d.doc_id"""
  }

  /** Oracles are a def: the IVF entry needs the trained centroids, which
    * exist only after OracleContext is set (Verify does, before dumping). */
  /** Shared by the direct queries and their .pig-dialect twins — the
    * statements compile to the same engine calls, so one oracle serves
    * both gate entries. */
  private val profileOracle =
    """SELECT 'doc_id' AS col_name, count(doc_id) AS n_nonnull,
         count(*) - count(doc_id) AS n_null,
         count(DISTINCT doc_id) AS n_distinct,
         CAST(min(doc_id) AS VARCHAR) AS min_val,
         CAST(max(doc_id) AS VARCHAR) AS max_val FROM documents
       UNION ALL SELECT 'lang', count(lang), count(*) - count(lang),
         count(DISTINCT lang), CAST(min(lang) AS VARCHAR),
         CAST(max(lang) AS VARCHAR) FROM documents
       UNION ALL SELECT 'source', count(source),
         count(*) - count(source), count(DISTINCT source),
         CAST(min(source) AS VARCHAR),
         CAST(max(source) AS VARCHAR) FROM documents
       UNION ALL SELECT 'n_chars', count(n_chars),
         count(*) - count(n_chars), count(DISTINCT n_chars),
         CAST(min(n_chars) AS VARCHAR),
         CAST(max(n_chars) AS VARCHAR) FROM documents"""

  /** Deterministic top-k: count desc then value asc — the same
    * tie-break the engine's TakeOrdered uses, so LIMIT is stable. */
  private[queries] val heavyOracle =
    """SELECT t AS value, cnt FROM (
         SELECT t, count(*) AS cnt
         FROM (SELECT unnest(list_filter(
                 string_split_regex(text, '\s+'), x -> x <> '')) AS t
               FROM documents)
         GROUP BY t ORDER BY cnt DESC, t LIMIT 20)"""

  def oracles: Map[String, String] = {
    val static = Map(
      "q_token_count" ->
        """SELECT doc_id,
           len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS ws_tokens,
           len(regexp_extract_all(text, '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]')) AS bpe_tokens
           FROM documents""",
      "q_quality" ->
        s"""WITH q AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks,
             length(text) AS nc,
             length(regexp_replace(text, '[^\\.\\!\\?\\,\\;\\:]', '', 'g')) AS np,
             length(regexp_replace(text, '\\s+', '', 'g')) AS nw
             FROM documents)
           SELECT doc_id,
             (CASE WHEN len(toks) = 0 THEN 0.0
                   ELSE CAST(len(list_filter(toks, x -> list_contains($stopList, lower(x)))) AS DOUBLE) / len(toks) END) * 0.4
             + least((CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(nw AS DOUBLE) / len(toks) END) / 10.0, 1.0) * 0.3
             + (1.0 - (CASE WHEN nc = 0 THEN 0.0 ELSE CAST(np AS DOUBLE) / nc END)) * 0.3 AS quality
           FROM q""",
      // Gopher rules: toks/lines CTE once, each ratio a single integer
      // divide (bit-exact), keep the same literal-threshold conjunction
      // whitespace-normalize without token space: the round-trip's truth
      "q_bpe_roundtrip" ->
        """SELECT doc_id,
             array_to_string(list_filter(
               string_split_regex(text, '\s+'), x -> x <> ''), ' ') AS rt
           FROM documents WHERE text IS NOT NULL""",
      "q_gopher_rules" -> {
        val gopherList =
          TextOps.gopherStops.map(w => s"'$w'").mkString("[", ", ", "]")
        s"""WITH planted AS (SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text || chr(10) ||
               '- bullet one' || chr(10) || '- bullet two' || chr(10) ||
               'the line trails off...' || chr(10) ||
               'or even further…' || chr(10) || '# # tag'
             ELSE text END AS text
             FROM documents),
           q AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks,
             list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines,
             CAST(len(regexp_extract_all(text, '#')) +
                  len(regexp_extract_all(text, '…')) +
                  len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS sym
             FROM planted),
           m AS (SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
                       / len(toks) END AS mean_word_len,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(sym AS DOUBLE) / len(toks) END AS symbol_ratio,
             CASE WHEN len(lines) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(lines,
                         l -> list_contains(['-', '*', '•'], left(trim(l), 1)))) AS DOUBLE)
                       / len(lines) END AS bullet_frac,
             CASE WHEN len(lines) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(lines,
                         l -> ends_with(trim(l), '…') OR ends_with(trim(l), '...'))) AS DOUBLE)
                       / len(lines) END AS ellipsis_frac,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(toks,
                         t -> regexp_matches(t, '\\p{L}'))) AS DOUBLE)
                       / len(toks) END AS alpha_frac,
             CAST(len(list_intersect(
               list_distinct(list_transform(toks, t -> lower(t))),
               $gopherList)) AS BIGINT) AS stop_hits
             FROM q)
           SELECT doc_id, n_words, mean_word_len, symbol_ratio,
             bullet_frac, ellipsis_frac, alpha_frac, stop_hits,
             (n_words >= 50 AND n_words <= 100000
              AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
              AND symbol_ratio <= 0.1 AND bullet_frac <= 0.9
              AND ellipsis_frac <= 0.3 AND alpha_frac >= 0.8
              AND stop_hits >= 2) AS keep
           FROM m"""
      },
      "q_fingerprint" ->
        """SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
           FROM documents""",
      "q_html_extract" -> htmlExtractOracle,
      "q_wet_pipeline" -> htmlExtractOracle,
      "q_url_canon" ->
        s"""WITH u AS (SELECT doc_id, $urlPlantSql AS url FROM documents)
           SELECT doc_id, url,
             ${graft.text.Url.canonicalizeUrlSql("url")} AS canon
           FROM u""",
      "q_contains_any" ->
        s"""SELECT doc_id,
             coalesce(array_to_string(
               ${graft.text.MultiMatch.matchAnySql("text", scanPatterns)},
               '|'), '') AS matched,
             len(${graft.text.MultiMatch.matchAnySql("text", scanPatterns)})
               ::BIGINT AS n_matched
           FROM documents""",
      "q_cdc_roundtrip" -> "SELECT doc_id, text FROM documents",
      "q_url_filter" ->
        s"""WITH h AS (SELECT doc_id, $htmlPlantSql AS page FROM documents),
           l AS (SELECT doc_id, unnest(regexp_extract_all(page,
                 '(?is)<a\\b[^>]*?href\\s*=\\s*["'']([^"'']*)["'']', 1))
                 AS href FROM h),
           ho AS (SELECT doc_id, lower(regexp_extract(href,
                 '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS host
                 FROM l)
           SELECT doc_id, host FROM ho WHERE host <> ''
             AND host NOT IN ('mirror0.example.org',
               'mirror3.example.org', 'spam.example.net')""",
      "q_pagerank" -> pageRankOracle(5),
      // doc_ids are contiguous 0..N-1 (verified at every SF), so chained
      // 16-blocks have the closed-form component label floor16(id)
      "q_connected_components" -> ccOracle,
      "q_mojibake" -> mojibakeOracle,
      "q_script" -> scriptOracle,
      "q_sentences" ->
        """WITH sp AS (SELECT doc_id,
             list_filter(list_transform(
               regexp_extract_all(text, '[^.!?]+[.!?]*'),
               x -> trim(x)), x -> x <> '') AS s
           FROM documents)
           SELECT doc_id, len(s) AS n_sentences,
             CAST(coalesce(list_sum(list_transform(s, x -> length(x))), 0)
                  AS DOUBLE) /
               CAST(greatest(len(s), 1) AS DOUBLE) AS mean_sentence_chars
           FROM sp""",
      "q_dedup_best" ->
        """SELECT component, keep_id FROM (
             SELECT doc_id - doc_id % 16 AS component, doc_id AS keep_id,
               row_number() OVER (PARTITION BY doc_id - doc_id % 16
                 ORDER BY n_chars DESC, doc_id ASC) AS rn
             FROM documents) WHERE rn = 1""",
      "q_link_hosts" ->
        s"""WITH h AS (SELECT doc_id, $htmlPlantSql AS page FROM documents),
           l AS (SELECT unnest(regexp_extract_all(page,
                 '(?is)<a\\b[^>]*?href\\s*=\\s*["'']([^"'']*)["'']', 1))
                 AS href FROM h),
           ho AS (SELECT lower(regexp_extract(href,
                 '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS host
                 FROM l)
           SELECT host AS value, count(*) AS cnt FROM ho
           WHERE host <> '' GROUP BY 1
           ORDER BY cnt DESC, value LIMIT 10""",
      "q_html_links" ->
        s"""WITH h AS (SELECT doc_id, $htmlPlantSql AS page FROM documents)
           SELECT doc_id,
             unnest(regexp_extract_all(page,
               '(?is)<a\\b[^>]*?href\\s*=\\s*["'']([^"'']*)["'']', 1))
               AS href
           FROM h""",
      "q_pii_scrub" -> {
        // the same pattern chain TextOps.scrubPii folds, built from the
        // same source list (drift would break the hash compare)
        // DuckDB single-quoted literals are escape-free, so the Java
        // pattern string embeds verbatim
        val scrubbed = TextOps.piiPatterns.foldLeft("text") {
          case (inner, (pat, rep)) =>
            s"regexp_replace($inner, '$pat', '$rep', 'g')"
        }
        s"""WITH planted AS (SELECT doc_id,
             text || ' contact user' || doc_id ||
             '@mail.example.com or call 555-' ||
             lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-' ||
             lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
             ' ssn 123-45-6789 done' AS text
           FROM documents)
           SELECT doc_id, $scrubbed AS clean FROM planted"""
      },
      "q_repetition" ->
        """WITH tok AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
           FROM documents)
           SELECT doc_id,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE 1.0 - len(list_distinct(toks))::DOUBLE / len(toks) END
               AS tok_rep,
             CASE WHEN len(toks) < 2 THEN 0.0
                  ELSE 1.0 - len(list_distinct(list_transform(
                         range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]
                       )))::DOUBLE / (len(toks) - 1) END AS bigram_rep
           FROM tok""",
      "q_lang_id" -> langIdSql,
      "q_decontaminate" -> decontaminateSql(n = 8),
      // the bloom prefilter is output-identical by construction (no false
      // negatives + exact re-verification) — same oracle, independently run
      "q_decontaminate_bloom" -> decontaminateSql(n = 8),
      "q_tfidf" -> tfIdfSql(TfIdfK),
      "q_bm25" -> bm25Sql(Bm25Terms, Bm25K1, Bm25B),
      "q_split_hash" -> splitHashOracleSql,
      // windowed SUM returns HUGEINT (float64 at compare time): every
      // output is CAST to BIGINT; // is integer division like Spark div
      // COALESCE replicates packConcat's null-to-zero n_tok (a NULL text
      // row would otherwise cascade NULL through the prefix sum here
      // while Spark reports a real offset)
      "q_pack_sequences" ->
        s"""WITH t AS (SELECT doc_id,
             coalesce(len(list_filter(string_split_regex(text, '\\s+'),
               x -> x <> '')), 0)
               AS n_tok FROM documents),
           c AS (SELECT doc_id, n_tok,
             SUM(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
               AS tok_start FROM t)
           SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
             CAST(tok_start AS BIGINT) AS tok_start,
             CAST(tok_start // $PackSeqLen AS BIGINT) AS seq_first,
             CAST((tok_start + greatest(n_tok, 1) - 1) // $PackSeqLen
               AS BIGINT) AS seq_last
           FROM c""",
      "q_chunk" ->
        s"""WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'), x -> x <> '')
               AS toks FROM documents),
           st AS (SELECT doc_id, toks,
             unnest(range(0, len(toks), $ChunkStride)) AS s0
           FROM t WHERE len(toks) > 0)
           SELECT doc_id, CAST(s0 // $ChunkStride AS BIGINT) AS chunk_idx,
             CAST(least($ChunkWidth, len(toks) - s0) AS BIGINT)
               AS chunk_tokens,
             array_to_string(toks[s0 + 1 : s0 + $ChunkWidth], ' ')
               AS chunk_text
           FROM st""",
      // exact fixed-point log2 replay of LangModel.ratioLog2Fx: integer
      // digit counts, ONE double divide, then 16 repeated-squaring steps
      // (multiply / compare / halve — all correctly-rounded IEEE ops, so
      // both engines produce identical bits; see LangModel scaladoc)
      "q_lm_score" ->
        """WITH RECURSIVE tokx AS (
             SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                 x -> x <> '')) AS tok
             FROM documents),
           dtf AS (SELECT doc_id, tok, COUNT(*) AS cnt
             FROM tokx GROUP BY 1, 2),
           voc AS (SELECT tok, CAST(SUM(cnt) AS BIGINT) AS c
             FROM dtf GROUP BY 1),
           tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS v
             FROM voc),
           base AS (SELECT c, n + v AS num, c + 1 AS den,
               length(bin(n + v)) - length(bin(c + 1)) AS e0
             FROM (SELECT DISTINCT c FROM voc) dc, tot),
           b2 AS (SELECT c, e0,
               CAST(num AS DOUBLE) / CAST(den << e0 AS DOUBLE) AS y0
             FROM base),
           fx AS (
             SELECT c,
               CASE WHEN y0 < 1 THEN y0 * 2 ELSE y0 END AS y,
               CASE WHEN y0 < 1 THEN e0 - 1 ELSE e0 END AS e,
               CAST(0 AS BIGINT) AS bits, 0 AS step FROM b2
             UNION ALL
             SELECT c,
               CASE WHEN y * y >= 2 THEN y * y / 2 ELSE y * y END, e,
               bits * 2 + CASE WHEN y * y >= 2 THEN 1 ELSE 0 END, step + 1
             FROM fx WHERE step < 16),
           sc AS (SELECT c, CAST(e AS BIGINT) * 65536 + bits AS sfx
             FROM fx WHERE step = 16),
           scored AS (SELECT v.tok, s2.sfx FROM voc v JOIN sc s2 USING (c))
           SELECT d.doc_id, CAST(SUM(d.cnt) AS BIGINT) AS n_tok,
             CAST(SUM(d.cnt * s3.sfx) AS BIGINT) AS nll_fx
           FROM dtf d JOIN scored s3 USING (tok)
           GROUP BY 1""",
      // curriculum replica: the q_lm_score CTE, then integer-div mean
      // surprisal, 0-based global rank by (diff_fx, doc_id), and
      // equal-frequency buckets = rank*10 // n — all integer math
      "q_curriculum" ->
        """WITH RECURSIVE tokx AS (
             SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                 x -> x <> '')) AS tok
             FROM documents),
           dtf AS (SELECT doc_id, tok, COUNT(*) AS cnt
             FROM tokx GROUP BY 1, 2),
           voc AS (SELECT tok, CAST(SUM(cnt) AS BIGINT) AS c
             FROM dtf GROUP BY 1),
           tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n, COUNT(*) AS v
             FROM voc),
           base AS (SELECT c, n + v AS num, c + 1 AS den,
               length(bin(n + v)) - length(bin(c + 1)) AS e0
             FROM (SELECT DISTINCT c FROM voc) dc, tot),
           b2 AS (SELECT c, e0,
               CAST(num AS DOUBLE) / CAST(den << e0 AS DOUBLE) AS y0
             FROM base),
           fx AS (
             SELECT c,
               CASE WHEN y0 < 1 THEN y0 * 2 ELSE y0 END AS y,
               CASE WHEN y0 < 1 THEN e0 - 1 ELSE e0 END AS e,
               CAST(0 AS BIGINT) AS bits, 0 AS step FROM b2
             UNION ALL
             SELECT c,
               CASE WHEN y * y >= 2 THEN y * y / 2 ELSE y * y END, e,
               bits * 2 + CASE WHEN y * y >= 2 THEN 1 ELSE 0 END, step + 1
             FROM fx WHERE step < 16),
           sc AS (SELECT c, CAST(e AS BIGINT) * 65536 + bits AS sfx
             FROM fx WHERE step = 16),
           scored AS (SELECT v.tok, s2.sfx FROM voc v JOIN sc s2 USING (c)),
           doc_sc AS (SELECT d.doc_id,
               CAST(SUM(d.cnt) AS BIGINT) AS n_tok,
               CAST(SUM(d.cnt * s3.sfx) AS BIGINT) AS nll_fx
             FROM dtf d JOIN scored s3 USING (tok)
             GROUP BY 1)
           SELECT doc_id, n_tok, nll_fx,
             CAST(nll_fx // n_tok AS BIGINT) AS diff_fx,
             CAST(((row_number() OVER (ORDER BY nll_fx // n_tok, doc_id)
                    - 1) * 10) // (COUNT(*) OVER ()) AS BIGINT) AS bucket
           FROM doc_sc""",
      // Stupid-Backoff bigram replica: same fixed-point log₂ CTE as
      // q_lm_score but parameterized over distinct (num, den) pairs —
      // retained bigram (count ≥ 2): (c(w1), c(w1w2)); pruned: the α=0.4
      // backoff folded to one call (5(N+V), 2(c(w2)+1)); doc-initial
      // token: ((N+V), c+1)
      "q_lm_bigram" ->
        """WITH RECURSIVE tk AS (
             SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                 x -> x <> '') AS t
             FROM documents),
           tk1 AS (SELECT doc_id, t FROM tk WHERE len(t) > 0),
           tokx AS (SELECT doc_id, unnest(t) AS tok FROM tk1),
           uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
             FROM tokx GROUP BY 1),
           tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS v FROM uni),
           bgx AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i
             FROM tk1 WHERE len(t) >= 2),
           bgi AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM bgx),
           bm AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
             FROM bgi GROUP BY 1, 2 HAVING COUNT(*) >= 2),
           dp AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS m
             FROM bgi GROUP BY 1, 2, 3),
           pair0 AS (SELECT dp.doc_id, dp.m,
               CASE WHEN bm.c12 IS NOT NULL THEN u1.c
                    ELSE 5 * (tot.n + tot.v) END AS num,
               CASE WHEN bm.c12 IS NOT NULL THEN bm.c12
                    ELSE 2 * (u2.c + 1) END AS den
             FROM dp LEFT JOIN bm USING (w1, w2)
               JOIN uni u1 ON u1.tok = dp.w1
               JOIN uni u2 ON u2.tok = dp.w2
               CROSS JOIN tot),
           first0 AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tok,
               tot.n + tot.v AS num, u.c + 1 AS den
             FROM tk1 JOIN uni u ON u.tok = t[1] CROSS JOIN tot),
           pr AS (SELECT DISTINCT num, den FROM
             (SELECT num, den FROM pair0
              UNION ALL SELECT num, den FROM first0)),
           b2 AS (SELECT num, den,
               length(bin(num)) - length(bin(den)) AS e0,
               CAST(num AS DOUBLE)
                 / CAST(den << (length(bin(num)) - length(bin(den)))
                        AS DOUBLE) AS y0
             FROM pr),
           fx AS (
             SELECT num, den,
               CASE WHEN y0 < 1 THEN y0 * 2 ELSE y0 END AS y,
               CASE WHEN y0 < 1 THEN e0 - 1 ELSE e0 END AS e,
               CAST(0 AS BIGINT) AS bits, 0 AS step FROM b2
             UNION ALL
             SELECT num, den,
               CASE WHEN y * y >= 2 THEN y * y / 2 ELSE y * y END, e,
               bits * 2 + CASE WHEN y * y >= 2 THEN 1 ELSE 0 END, step + 1
             FROM fx WHERE step < 16),
           sc AS (SELECT num, den, CAST(e AS BIGINT) * 65536 + bits AS sfx
             FROM fx WHERE step = 16),
           bnll AS (SELECT p.doc_id, CAST(SUM(p.m * s.sfx) AS BIGINT) AS s
             FROM pair0 p JOIN sc s USING (num, den) GROUP BY 1)
           SELECT f.doc_id, f.n_tok,
             CAST(s1.sfx + COALESCE(b.s, 0) AS BIGINT) AS nll_fx
           FROM first0 f JOIN sc s1 USING (num, den)
           LEFT JOIN bnll b USING (doc_id)""",
      // DSIR replica: hashed unigram+bigram buckets (md5 % B, bigrams
      // joined on chr(31)), add-one-smoothed target/raw counts, and the
      // same fixed-point log2 CTE as q_lm_score parameterized over the
      // distinct single values x (den = 1):
      // w[b] = (L(ct+1) - L(Nt+B)) - (L(cr+1) - L(Nr+B))
      "q_dsir" ->
        s"""WITH RECURSIVE tk AS (
             SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                 x -> x <> '') AS t
             FROM documents),
           tk1 AS (SELECT doc_id, t FROM tk WHERE len(t) > 0),
           unig AS (SELECT doc_id, unnest(t) AS f FROM tk1),
           bigr AS (SELECT doc_id, t[i] || chr(31) || t[i + 1] AS f
             FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
                   FROM tk1 WHERE len(t) >= 2)),
           feats AS (SELECT doc_id,
               ('0x' || substr(md5(f), 1, 8))::BIGINT % $DsirBuckets
                 AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cnt
             FROM (SELECT * FROM unig UNION ALL SELECT * FROM bigr)
             GROUP BY 1, 2),
           raw AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS cr
             FROM feats GROUP BY 1),
           tgt AS (SELECT f.bucket, CAST(SUM(f.cnt) AS BIGINT) AS ct
             FROM feats f JOIN documents d USING (doc_id)
             WHERE d.source = '$DsirTarget' GROUP BY 1),
           rtot AS (SELECT CAST(COALESCE(SUM(cr), 0) AS BIGINT) AS nr
             FROM raw),
           ttot AS (SELECT CAST(COALESCE(SUM(ct), 0) AS BIGINT) AS nt
             FROM tgt),
           wj AS (SELECT r.bucket, r.cr, COALESCE(g.ct, 0) AS ct
             FROM raw r LEFT JOIN tgt g USING (bucket)),
           xs AS (SELECT DISTINCT x FROM (
               SELECT ct + 1 AS x FROM wj
               UNION ALL SELECT cr + 1 FROM wj
               UNION ALL SELECT nt + $DsirBuckets FROM ttot
               UNION ALL SELECT nr + $DsirBuckets FROM rtot)),
           b2 AS (SELECT x, length(bin(x)) - 1 AS e0,
               CAST(x AS DOUBLE)
                 / CAST(1::BIGINT << (length(bin(x)) - 1) AS DOUBLE) AS y0
             FROM xs),
           fx AS (
             SELECT x,
               CASE WHEN y0 < 1 THEN y0 * 2 ELSE y0 END AS y,
               CASE WHEN y0 < 1 THEN e0 - 1 ELSE e0 END AS e,
               CAST(0 AS BIGINT) AS bits, 0 AS step FROM b2
             UNION ALL
             SELECT x,
               CASE WHEN y * y >= 2 THEN y * y / 2 ELSE y * y END, e,
               bits * 2 + CASE WHEN y * y >= 2 THEN 1 ELSE 0 END, step + 1
             FROM fx WHERE step < 16),
           lg AS (SELECT x, CAST(e AS BIGINT) * 65536 + bits AS lfx
             FROM fx WHERE step = 16),
           w AS (SELECT wj.bucket,
               (lt.lfx - lnt.lfx) - (lr.lfx - lnr.lfx) AS w_fx
             FROM wj CROSS JOIN rtot CROSS JOIN ttot
             JOIN lg lt ON lt.x = wj.ct + 1
             JOIN lg lr ON lr.x = wj.cr + 1
             JOIN lg lnt ON lnt.x = ttot.nt + $DsirBuckets
             JOIN lg lnr ON lnr.x = rtot.nr + $DsirBuckets)
           SELECT f.doc_id, CAST(SUM(f.cnt) AS BIGINT) AS n_feat,
             CAST(SUM(f.cnt * w.w_fx) AS BIGINT) AS dsir_fx
           FROM feats f JOIN w USING (bucket)
           GROUP BY 1""",
      // Naive Bayes replica: plant the spam suffixes, rebuild the hashed
      // features, per-class counts -> fixed-point log-ratio weights +
      // log-prior bias, score — every step an integer/log2fx sum
      "q_classifier" -> nbSql(DsirBuckets),
      // the calibration replay wraps the SAME NB margin oracle: global
      // rank by (margin desc, doc_id), integer depth buckets, bounded
      // cumulative window
      "q_pr_curve" ->
        s"""WITH s AS (${nbSql(DsirBuckets)}),
           l AS (SELECT doc_id, margin,
                   CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END AS y
                 FROM s),
           r AS (SELECT doc_id, margin, y,
                   row_number() OVER (ORDER BY margin DESC, doc_id) AS rk,
                   count(*) OVER () AS n
                 FROM l),
           b AS (SELECT CAST((rk * 100 + n - 1) // n AS BIGINT) AS pct,
                   count(*) AS c, CAST(sum(y) AS BIGINT) AS tpb
                 FROM r GROUP BY 1),
           cm AS (SELECT pct,
                   CAST(sum(c) OVER wnd AS BIGINT) AS k,
                   CAST(sum(tpb) OVER wnd AS BIGINT) AS tp
                 FROM b
                 WINDOW wnd AS (ORDER BY pct ROWS UNBOUNDED PRECEDING))
           SELECT pct, k, tp,
                  CAST(tp AS DOUBLE) / k AS prec,
                  CAST(tp AS DOUBLE) / (SELECT sum(y) FROM l) AS recall
           FROM cm""",
      // the whole composed chain in one SQL (see trainingPipelineSql)
      "q_training_pipeline" -> trainingPipelineSql(DsirBuckets,
        TrainSelectK, PackSeqLen, ShuffleSeed, DsirTarget),
      // winnowing replica: same k-gram md5-60bit hashes, rightmost
      // window argmin (list_reverse + list_position), DISTINCT after
      // unnest (DuckDB list_distinct cannot take structs)
      "q_winnow" ->
        s"""WITH tk AS (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
               x -> x <> '') AS t
           FROM documents),
         hs AS (SELECT doc_id,
            list_transform(range(0, len(t) - $WinnowK + 1),
              p -> ('0x' || substr(md5(array_to_string(
                     t[p + 1 : p + $WinnowK], chr(31))), 1, 15))::BIGINT)
              AS h
          FROM tk WHERE len(t) >= $WinnowK),
         sel AS (SELECT doc_id,
            list_transform(range($WinnowW - 1, len(h)),
              e -> struct_pack(
                pos := e - $WinnowW + ($WinnowW + 1
                  - list_position(
                      list_reverse(h[e - $WinnowW + 2 : e + 1]),
                      list_min(h[e - $WinnowW + 2 : e + 1]))),
                fp := list_min(h[e - $WinnowW + 2 : e + 1]))) AS s
          FROM hs WHERE len(h) >= $WinnowW)
         SELECT DISTINCT doc_id, CAST(u.pos AS BIGINT) AS pos, u.fp AS fp
         FROM sel, unnest(s) AS t(u)""",
      // line-dedup replica: identical line planting (header + 10-token
      // chunks), md5-line doc frequencies, > maxDf lines dropped,
      // surviving lines reassembled in position order
      "q_line_dedup" ->
        """WITH tk AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '')
               AS t
           FROM documents),
         lined AS (SELECT doc_id,
             'shared boilerplate header line' || chr(10) ||
             array_to_string(
               list_transform(range(0, (len(t) + 9) // 10),
                 i -> array_to_string(t[i * 10 + 1 : i * 10 + 10], ' ')),
               chr(10)) AS text
           FROM tk),
         pl AS (SELECT doc_id,
             list_transform(range(1, len(ls) + 1),
               i -> struct_pack(pos := i - 1, line := ls[i])) AS pls
           FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
                 FROM lined)),
         lines AS (SELECT doc_id, u.line AS line,
             CAST(u.pos AS BIGINT) AS pos
           FROM pl, unnest(pls) AS t(u)),
         common AS (SELECT md5(line) AS lh FROM lines
           GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 5),
         keep AS (SELECT l.doc_id, l.line, l.pos FROM lines l
           LEFT JOIN common c ON md5(l.line) = c.lh
           WHERE c.lh IS NULL)
         SELECT doc_id,
           string_agg(line, chr(10) ORDER BY pos) AS clean_text
         FROM keep GROUP BY 1""",
      // pairs replica: the q_winnow construction over the planted corpus,
      // distinct per-doc fingerprints, df cap, self-join; fps/ix are
      // MATERIALIZED (multi-referenced — DuckDB would inline the whole
      // winnowing run into each reference)
      "q_winnow_pairs" ->
        s"""WITH docs1 AS (SELECT doc_id, text FROM documents
             UNION ALL
             SELECT doc_id + 1000000,
               'planted preface marker run ' || text
             FROM documents WHERE doc_id % 50 = 0),
         tk AS (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
               x -> x <> '') AS t
           FROM docs1),
         hs AS (SELECT doc_id,
            list_transform(range(0, len(t) - $WinnowK + 1),
              p -> ('0x' || substr(md5(array_to_string(
                     t[p + 1 : p + $WinnowK], chr(31))), 1, 15))::BIGINT)
              AS h
          FROM tk WHERE len(t) >= $WinnowK),
         sel AS (SELECT doc_id,
            list_transform(range($WinnowW - 1, len(h)),
              e -> struct_pack(
                pos := e - $WinnowW + ($WinnowW + 1
                  - list_position(
                      list_reverse(h[e - $WinnowW + 2 : e + 1]),
                      list_min(h[e - $WinnowW + 2 : e + 1]))),
                fp := list_min(h[e - $WinnowW + 2 : e + 1]))) AS s
          FROM hs WHERE len(h) >= $WinnowW),
         fps AS MATERIALIZED (SELECT DISTINCT doc_id, u.fp AS fp
           FROM sel, unnest(s) AS t(u)),
         rare AS (SELECT fp FROM
           (SELECT fp, COUNT(*) AS df FROM fps GROUP BY 1)
           WHERE df <= 100),
         ix AS MATERIALIZED (SELECT f.doc_id, f.fp
           FROM fps f JOIN rare USING (fp))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS shared
         FROM ix a JOIN ix b USING (fp)
         WHERE a.doc_id < b.doc_id
         GROUP BY 1, 2
         HAVING COUNT(*) >= 2""",
      // batch-perceptron replica: the SAME hashed feature CTE (+ bias
      // feature), then each epoch unrolled as (margins, misclassified
      // updates, new weights) — all integer sums, so the replay of the
      // whole training run is hash-exact
      "q_perceptron" -> perceptronSql(DsirBuckets, ClassifierEpochs,
        "d.lang = 'en'"),
      // chr(30) = the 0x1E null sentinel (hashBucket convention)
      "q_shuffle_det" ->
        s"""SELECT doc_id, lang,
             row_number() OVER (
               ORDER BY md5(coalesce(doc_id::VARCHAR, chr(30))
                 || '|' || '$ShuffleSeed')) - 1
               AS shuffle_pos
           FROM documents""",
      // the full chain, each stage the already-verified oracle fragment:
      // canonicalize (nfc/strip/lower) → ≥5-token gate → min-id winner
      // per md5 fingerprint → 8-gram overlap removal vs the % 20 = 3
      // bench slice → per-language md5-bucket quota
      "q_curation_pipeline" ->
        """WITH norm AS (
             SELECT doc_id, lang,
               lower(strip_accents(nfc_normalize(text))) AS norm
             FROM documents),
           gated AS (
             SELECT * FROM norm WHERE norm IS NOT NULL AND
               len(list_filter(string_split_regex(norm, '\s+'),
                   x -> x <> '')) >= 5),
           winners AS (
             SELECT min(doc_id) AS doc_id FROM gated
             GROUP BY md5(lower(regexp_replace(trim(norm), '\s+', ' ', 'g')))),
           deduped AS (SELECT g.* FROM gated g JOIN winners USING (doc_id)),
           bench AS (SELECT doc_id AS bench_id, norm FROM gated
                     WHERE doc_id % 20 = 3),
           corpus AS (SELECT * FROM deduped WHERE doc_id % 20 <> 3),
           cg AS (SELECT doc_id, unnest(list_distinct(
                    CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
                    ELSE list_transform(range(1, len(toks) - 6),
                         i -> array_to_string(toks[i:i+7], ' ')) END)) AS g
                  FROM (SELECT doc_id,
                          list_filter(string_split_regex(norm, '\s+'),
                            x -> x <> '') AS toks
                        FROM corpus WHERE length(trim(norm)) > 0)),
           bg AS (SELECT bench_id, unnest(list_distinct(
                    CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
                    ELSE list_transform(range(1, len(toks) - 6),
                         i -> array_to_string(toks[i:i+7], ' ')) END)) AS g
                  FROM (SELECT bench_id,
                          list_filter(string_split_regex(norm, '\s+'),
                            x -> x <> '') AS toks
                        FROM bench WHERE length(trim(norm)) > 0)),
           clean AS (
             SELECT * FROM corpus WHERE doc_id NOT IN (
               SELECT DISTINCT cg.doc_id FROM cg JOIN bg ON cg.g = bg.g))
           SELECT doc_id, lang FROM clean
           WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100
             < CASE WHEN lang = 'en' THEN 40 ELSE 80 END""",
      // same op order as NormalizeTextExpr: NFC → strip accents → fold
      "q_normalize" ->
        """SELECT doc_id,
             lower(strip_accents(nfc_normalize(
               text || ' Café naïve Über straße'))) AS norm
           FROM documents""",
      // one UNION ALL branch per profiled column — the long format the
      // engine emits from its single-aggregate pass
      "q_profile" -> profileOracle,
      "q_heavy_hitters" -> heavyOracle,
      // the dialect statements compile to the identical engine calls
      "q_pig_profile" -> profileOracle,
      "q_pig_heavy" -> heavyOracle,
      // replays Quantize.int8 in the same IEEE op order: vmin, then
      // (vmax-vmin)/255.0, then floor((x-vmin)/vscale) clamped — floor
      // output is integral so DuckDB's rounding int-cast equals Spark's
      // truncating one
      "q_embed_project" ->
        s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
           ${graft.sim.RandomProjection.projectSql("v", d = 64, k = 16)}
           SELECT vec_id, pos, value FROM p""",
      "q_embed_quantize" ->
        """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
           m AS (SELECT vec_id, v,
             list_aggregate(v, 'min') AS vmin,
             (list_aggregate(v, 'max') - list_aggregate(v, 'min')) / 255.0
               AS vscale
             FROM e)
           SELECT vec_id, vmin, vscale,
             generate_subscripts(v, 1) - 1 AS pos,
             CAST(CASE WHEN vscale = 0 THEN 0
                  ELSE least(floor((unnest(v) - vmin) / vscale), 255.0)
                  END AS INTEGER) AS code
           FROM m""",
      "q_dedup_exact" ->
        // text IS NOT NULL mirrors Dedup.exact's guard (null text is
        // unknown content, not identical content)
        """WITH planted AS (
             SELECT doc_id, text FROM documents
             UNION ALL SELECT doc_id + 1000000, text FROM documents)
           SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
                  min(doc_id) AS keep_id, count(*) AS dup_cnt
           FROM planted WHERE text IS NOT NULL GROUP BY 1""",
      // systematic resampling: exclusive prefix sums + the closed-form
      // grid-point count m = ⌊(2k(c+w)+W−1)/2W⌋ − ⌊(2kc+W−1)/2W⌋ (all
      // integer; // is DuckDB floor division, exact on positives)
      "q_sys_resample" ->
        s"""WITH w AS (SELECT doc_id,
               CAST(coalesce(len($toksExpr), 0) AS BIGINT) AS wt
             FROM documents),
           c AS (SELECT doc_id, wt,
                   coalesce(SUM(wt) OVER (ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) - wt, 0) AS cum
                 FROM w),
           t AS (SELECT SUM(wt) AS tw FROM w)
           SELECT doc_id, multiplicity FROM (
             SELECT doc_id,
               CAST(((200 * (cum + wt) + tw - 1) // (2 * tw)) -
                    ((200 * cum + tw - 1) // (2 * tw)) AS BIGINT)
                 AS multiplicity
             FROM c, t)
           WHERE multiplicity >= 1""",
      // repeated-substring excision: full replay — plant, tokenize,
      // 4-gram occurrences, min-(doc,pos) firsts, coverage, reassembly
      "q_substring_dedup" ->
        s"""WITH base AS (
             SELECT doc_id, CASE WHEN doc_id % 7 = 0
               THEN text || ' shared boilerplate block repeated verbatim across docs'
               ELSE text END AS text
             FROM documents),
           p2 AS (
             SELECT doc_id, CASE WHEN doc_id % 11 = 3
               THEN text || ' ' ||
                 array_to_string(($toksExpr)[1:4], ' ')
               ELSE text END AS text
             FROM base),
           tok AS (SELECT doc_id, $toksExpr AS toks FROM p2),
           pos AS (SELECT doc_id, toks,
                     unnest(range(1, greatest(len(toks) - 2, 1))) AS p
                   FROM tok),
           g AS (SELECT doc_id, p - 1 AS pos,
                   array_to_string(toks[p:p+3], chr(31)) AS gram
                 FROM pos),
           m AS (SELECT doc_id, pos,
                   row_number() OVER (PARTITION BY gram
                     ORDER BY doc_id, pos) AS rn,
                   count(*) OVER (PARTITION BY gram) AS cnt
                 FROM g),
           dup AS (SELECT doc_id, pos FROM m WHERE cnt >= 2 AND rn > 1),
           cov AS (SELECT DISTINCT doc_id, cpos FROM
                     (SELECT doc_id, pos + unnest(range(0, 4)) AS cpos
                      FROM dup)),
           tp AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,
                    unnest(toks) AS tok FROM tok),
           keep AS (SELECT t.doc_id, t.pos, t.tok
                    FROM tp t LEFT JOIN cov c
                      ON t.doc_id = c.doc_id AND t.pos = c.cpos
                    WHERE c.doc_id IS NULL),
           agg AS (SELECT doc_id,
                     array_to_string(list(tok ORDER BY pos), ' ')
                       AS clean_text,
                     count(*) AS kept
                   FROM keep GROUP BY doc_id)
           SELECT k2.doc_id, coalesce(a.clean_text, '') AS clean_text,
             CAST(len(k2.toks) - coalesce(a.kept, 0) AS BIGINT) AS n_removed
           FROM tok k2 LEFT JOIN agg a USING (doc_id)""",
      // MJPEG decode pipeline, structurally replayed: frame dims are the
      // planted JPEG dims (decode returns the true raster size), sampled
      // indices are 0..n-1 by stride 2 (80ms over 40ms/frame)
      "q_video_frames" ->
        """WITH v AS (
             SELECT doc_id,
               16 + (doc_id % 3) * 8 AS w,
               8 + (doc_id % 2) * 8 AS h,
               1 + (doc_id % 5) AS n
             FROM documents WHERE doc_id % 4 = 0)
           SELECT doc_id,
             CAST(unnest(range(0, n, 2)) AS BIGINT) AS frame_idx,
             CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height
           FROM v""",
      // perceptual image hash: full decode→luma→dHash replay (see
      // imageHashCte) — per-doc exact hash compare
      "q_image_dhash" ->
        s"""WITH $imageHashCte
            SELECT id AS doc_id, dhash FROM hashes""",
      // image near-dup pairs: brute-force Hamming ≤ 3 over the replayed
      // hashes — the banded engine join must find exactly these (the
      // pigeonhole split is lossless at maxDist 3)
      "q_image_dedup" ->
        s"""WITH $imageHashCte
            SELECT a.id AS id_a, b.id AS id_b,
              CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
            FROM hashes a JOIN hashes b ON a.id < b.id
            WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""",
      // audio envelope fingerprint: full decode→envelope→hash replay
      "q_audio_ehash" ->
        s"""WITH $audioHashCte
            SELECT id AS doc_id, ehash FROM hashes""",
      // audio near-dup pairs: brute-force Hamming ≤ 3 over the replayed
      // hashes (the banded engine join is lossless at maxDist 3)
      "q_audio_dedup" ->
        s"""WITH $audioHashCte
            SELECT a.id AS id_a, b.id AS id_b,
              CAST(bit_count(xor(a.ehash, b.ehash)) AS INTEGER) AS hamming
            FROM hashes a JOIN hashes b ON a.id < b.id
            WHERE bit_count(xor(a.ehash, b.ehash)) <= 3""",
      // video near-dup: the structural pair set (twins with ≥2 shared
      // frames — n−1 = doc_id%5 of the planted layout; organic pairs
      // verified zero over the sf0.1 population)
      "q_video_dedup" ->
        """SELECT doc_id AS id_a, doc_id + 1000000 AS id_b,
             CAST(doc_id % 5 AS BIGINT) AS shared_frames
           FROM documents WHERE doc_id % 5 >= 2""",
      // incremental exact dedup: the folded index must equal the
      // full-corpus dedup — same SQL as q_dedup_exact
      "q_dedup_incremental" ->
        """WITH planted AS (
             SELECT doc_id, text FROM documents
             UNION ALL SELECT doc_id + 1000000, text FROM documents)
           SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp,
                  min(doc_id) AS keep_id, count(*) AS dup_cnt
           FROM planted WHERE text IS NOT NULL GROUP BY 1""",
      // incremental minhash: all full-corpus pairs touching the delta
      // shard (ids >= 1e6); id_a < id_b makes that id_b >= 1e6
      "q_dedup_incr_minhash" ->
        s"""SELECT * FROM (${jaccardPairsSql(n = 3, threshold = 0.5)})
            WHERE id_b >= 1000000""",
      "q_decontaminate_fuzzy" ->
        fuzzyDecontaminateSql(n = 3, threshold = 0.5),
      "q_store_zorder" ->
        "SELECT event_id, user_id, value FROM events",
      "q_vocab" ->
        """WITH toks AS (SELECT lower(unnest(list_filter(
               string_split_regex(text, '\s+'), x -> x <> ''))) AS token
             FROM documents),
           c AS (SELECT token, count(*) AS cnt FROM toks
                 GROUP BY token HAVING count(*) >= 5
                 ORDER BY cnt DESC, token LIMIT 200)
           SELECT row_number() OVER (ORDER BY cnt DESC, token) AS rank,
                  token, cnt
           FROM c""",
      "q_oov_rate" ->
        """WITH toks AS (SELECT doc_id, lower(unnest(list_filter(
               string_split_regex(text, '\s+'), x -> x <> ''))) AS token
             FROM documents),
           c AS (SELECT token, count(*) AS cnt FROM toks
                 GROUP BY token HAVING count(*) >= 5
                 ORDER BY cnt DESC, token LIMIT 200),
           f AS (SELECT t.doc_id,
                   CASE WHEN c.token IS NULL THEN 1 ELSE 0 END AS oov
                 FROM toks t LEFT JOIN c ON t.token = c.token),
           g AS (SELECT doc_id, count(*) AS n_tokens,
                   CAST(sum(oov) AS BIGINT) AS n_oov
                 FROM f GROUP BY doc_id)
           SELECT d.doc_id,
                  coalesce(g.n_tokens, 0) AS n_tokens,
                  coalesce(g.n_oov, 0) AS n_oov,
                  CASE WHEN coalesce(g.n_tokens, 0) = 0 THEN 0.0
                       ELSE CAST(g.n_oov AS DOUBLE) / g.n_tokens
                  END AS oov_rate
           FROM (SELECT DISTINCT doc_id FROM documents) d
           LEFT JOIN g USING (doc_id)""",
      "q_mixture_sample" -> mixtureSampleSql(MixtureTargets),
      "q_pig_mixture" -> mixtureSampleSql(MixtureTargets),
      "q_crawl_pipeline" -> {
        val ruleRows = robotsPolicies.zipWithIndex.flatMap {
          case (rules, pid) => rules.map { case (allow, p) =>
            s"($pid, $allow, '$p')" } }
        s"""WITH h AS (SELECT doc_id, $htmlPlantSql AS page FROM documents),
           l AS (SELECT doc_id, unnest(regexp_extract_all(page,
                 '(?is)<a\\b[^>]*?href\\s*=\\s*["'']([^"'']*)["'']', 1))
                 AS href FROM h),
           ho AS (SELECT doc_id, lower(regexp_extract(href,
                 '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS host,
                 regexp_extract(href,
                 '^[A-Za-z][A-Za-z0-9+.-]*://[^/]+(/.*)$$', 1) AS path
                 FROM l),
           ub AS (SELECT * FROM ho WHERE host <> ''
                  AND host NOT IN ('mirror0.example.org',
                    'mirror3.example.org', 'spam.example.net')),
           up AS (SELECT doc_id, host, path,
                   CAST(regexp_extract(host, 'mirror(\\d+)', 1) AS BIGINT)
                     % 4 AS pid FROM ub),
           rules(pid, allow, rpath) AS (VALUES ${ruleRows.mkString(", ")}),
           m AS (SELECT up.doc_id, up.host, r.allow,
                   row_number() OVER (PARTITION BY up.doc_id, up.host
                     ORDER BY len(r.rpath) DESC, r.allow DESC) AS rn
                 FROM up JOIN rules r ON up.pid = r.pid
                   AND starts_with(up.path, r.rpath)),
           b AS (SELECT doc_id, host, allow FROM m WHERE rn = 1)
           SELECT up.doc_id, up.host, up.path,
                  coalesce(b.allow, true) AS fetchable
           FROM up LEFT JOIN b
             ON up.doc_id = b.doc_id AND up.host = b.host"""
      },
      "q_pig_diff" -> corpusDiffOracleSql,
      "q_corpus_diff" -> corpusDiffOracleSql,
      "q_store_manifest" ->
        """SELECT count(*) AS n_rows,
             bit_xor(('0x' || substr(md5(
               event_id::VARCHAR || chr(31) || user_id::VARCHAR ||
               chr(31) || event_type), 1, 15))::BIGINT) AS checksum
           FROM events""",
      "q_robots" -> {
        // rules carry (specificity = pattern length AS WRITTEN, regex
        // replay of the §2.2.3 wildcard/anchor semantics) — both derived
        // from the same shared pattern constants the planted bodies print
        val ruleRows = robotsPolicies.zipWithIndex.flatMap {
          case (rules, pid) => rules.map { case (allow, p) =>
            s"($pid, $allow, ${p.length}, '${robotsRegexSql(p)}')" } }
        s"""WITH u AS (SELECT doc_id, doc_id % ${robotsPolicies.size} AS pid,
               $robotsPathSql AS path FROM documents),
           rules(pid, allow, plen, rx) AS (VALUES ${ruleRows.mkString(", ")}),
           m AS (SELECT u.doc_id, r.allow,
                   row_number() OVER (PARTITION BY u.doc_id
                     ORDER BY r.plen DESC, r.allow DESC) AS rn
                 FROM u JOIN rules r ON u.pid = r.pid
                   AND regexp_matches(u.path, r.rx)),
           b AS (SELECT doc_id, allow FROM m WHERE rn = 1)
           SELECT u.doc_id, u.pid, u.path,
                  coalesce(b.allow, true) AS allowed
           FROM u LEFT JOIN b USING (doc_id)"""
      },
      "q_robots_meta" -> {
        val metaRows = robotsPolicies.indices.map { i =>
          val sm = robotsSitemaps(i).mkString(",")
          val d = robotsDelays(i)
            .map(_.toString).getOrElse("CAST(NULL AS DOUBLE)")
          s"($i, '$sm', $d)" }
        s"""WITH u AS (SELECT doc_id,
               doc_id % ${robotsPolicies.size} AS pid FROM documents),
           meta(pid, smaps, delay) AS (VALUES ${metaRows.mkString(", ")})
           SELECT u.doc_id, u.pid, m.smaps, m.delay
           FROM u JOIN meta m USING (pid)"""
      },
      "q_crawl_schedule" -> crawlScheduleOracleSql,
      "q_pig_schedule" -> crawlScheduleOracleSql,
      "q_pig_overlap" -> overlapOracleSql,
      "q_overlap" -> overlapOracleSql,
      "q_outliers" -> outliersOracleSql,
      "q_pig_outliers" -> outliersOracleSql,
      "q_curation_v3" ->
        """WITH r AS (SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY lang
               ORDER BY n_chars DESC, doc_id) AS rk,
             count(*) OVER (PARTITION BY lang) AS n
           FROM documents),
           top AS (SELECT doc_id, lang FROM r
                   WHERE rk * 100 <= n * 50 + 99),
           c AS (SELECT lang AS grp, CAST(count(*) AS DOUBLE) AS n
                 FROM top GROUP BY lang),
           rt AS (SELECT grp, CAST(greatest(1, floor(CAST(100.0 AS DOUBLE) *
                    pow((SELECT min(n) FROM c) / n, 0.5))) AS INT) AS pct
                  FROM c),
           sel AS (SELECT t.doc_id, t.lang FROM top t
                   JOIN rt ON t.lang = rt.grp
                   WHERE ('0x' || substr(md5(t.doc_id::VARCHAR), 1, 8))
                         ::BIGINT % 100 < rt.pct)
           SELECT doc_id, lang,
             CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))
                       ::BIGINT % 100 < 90
                  THEN 'train' ELSE 'val' END AS split
           FROM sel""",
      "q_pig_temperature" ->
        """WITH c AS (SELECT lang AS grp, CAST(count(*) AS DOUBLE) AS n
                      FROM documents GROUP BY lang),
           r AS (SELECT grp, CAST(greatest(1, floor(CAST(100.0 AS DOUBLE) *
                   pow((SELECT min(n) FROM c) / n, 0.5))) AS INT) AS pct
                 FROM c)
           SELECT d.doc_id, d.lang FROM documents d JOIN r ON d.lang = r.grp
           WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 100
                 < r.pct""",
      "q_pig_topfrac" ->
        """WITH r AS (SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY lang
               ORDER BY n_chars DESC, doc_id) AS rk,
             count(*) OVER (PARTITION BY lang) AS n
           FROM documents)
           SELECT doc_id, lang, n_chars FROM r
           WHERE rk * 100 <= n * 25 + 99""",
      "q_top_frac" ->
        """WITH r AS (SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY lang
               ORDER BY n_chars DESC, doc_id) AS rk,
             count(*) OVER (PARTITION BY lang) AS n
           FROM documents)
           SELECT doc_id, lang, n_chars FROM r
           WHERE rk * 100 <= n * 25 + 99""",
      // identical single-pow rate expression (floor(100·(n_min/n)^(1−α)))
      // — the smallest group's ratio is exactly 1.0 on both engines
      "q_temperature_sample" ->
        """WITH c AS (SELECT lang AS grp, CAST(count(*) AS DOUBLE) AS n
                      FROM documents GROUP BY lang),
           r AS (SELECT grp, CAST(greatest(1, floor(CAST(100.0 AS DOUBLE) *
                   pow((SELECT min(n) FROM c) / n, 0.5))) AS INT) AS pct
                 FROM c)
           SELECT d.doc_id, d.lang FROM documents d JOIN r ON d.lang = r.grp
           WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT % 100
                 < r.pct""",
      "q_dedup_minhash" -> jaccardPairsSql(n = 3, threshold = 0.5),
      "q_dedup_jaccard" -> jaccardPairsSql(n = 5, threshold = 0.5),
      "q_dedup_simhash" -> simhashPairsSql(maxDist = 3),
      "q_dedup_cosine" -> cosinePairsSql(threshold = 0.999),
      // the same vec_id-ordered sequential double fold the engine runs —
      // identical IEEE op order gives bit-equal means
      "q_embed_centroid" ->
        """WITH e AS (SELECT vec_id % 16 AS grp, vec_id,
             CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           x AS (SELECT grp, vec_id,
             generate_subscripts(v, 1) - 1 AS pos,
             unnest(v) AS dv FROM e)
           SELECT grp, pos,
             list_reduce(list(dv ORDER BY vec_id), (a, b) -> a + b)
               / COUNT(*) AS m
           FROM x GROUP BY grp, pos""",
      "q_ann_lsh" -> lshAnnSql,
      "q_ann_brute" ->
        """SELECT q.vec_id AS qid, c.vec_id AS id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                               CAST(q.embedding AS DOUBLE[])) DESC,
                        c.vec_id) AS rank
           FROM embeddings q CROSS JOIN embeddings c
           WHERE q.vec_id < 5 AND c.vec_id >= 5
           QUALIFY rank <= 10""",
      // brute ANN restricted to label-mismatched pairs (hard negatives)
      "q_hard_negatives" ->
        """SELECT q.vec_id AS qid, c.vec_id AS id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                               CAST(q.embedding AS DOUBLE[])) DESC,
                        c.vec_id) AS rank
           FROM embeddings q CROSS JOIN embeddings c
           WHERE q.vec_id < 5 AND c.vec_id >= 5
             AND c.label <> q.label
           QUALIFY rank <= 10""")
    OracleContext.session match {
      case Some((s, dir)) =>
        static +
          ("q_ann_ivf" -> ivfAnnSql(ivfCentroidsFor(s, dir))) +
          ("q_kmeans" -> kmeansSql(kmeansCentroidsFor(s, dir))) +
          ("q_pig_kmeans" -> kmeansSql(kmeansCentroidsFor(s, dir))) +
          ("q_ann_pq" -> pqAnnSql(pqCodebooksFor(s, dir))) +
          ("q_ann_ivfpq_res" -> pqResAnnSql(ivfCentroidsFor(s, dir),
            pqResCodebooksFor(s, dir))) +
          ("q_bpe_tokens" -> bpeTokensSql(bpeMergesFor(s, dir))) +
          ("q_dedup_semantic" ->
            semanticPairsSql(ivfCentroidsFor(s, dir), threshold = 0.999))
      case None => static
    }
  }
}
