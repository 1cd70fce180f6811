"""Correctness checks, made with DuckDB apart from the program.

`enrich` and `ingest` outputs are checked by SQL over the generated
inputs; the corpus outputs are hash-compared with the program's own
DuckDB oracles (`SparkEntry.oracleSql`) run on the same inputs.  Each
check is one operation of the run: `run` returns (name, ok, detail).
"""
import hashlib
import math
import os

import duckdb

import gen

# graft's TextOps.Stopwords (the NLTK English list and the reference's
# additions) and TextOps.cleanText, written for DuckDB.
STOPWORDS = """i me my myself we our ours ourselves you you're you've you'll
you'd your yours yourself yourselves he him his himself she she's her hers
herself it it's its itself they them their theirs themselves what which who
whom this that that'll these those am is are was were be been being have has
had having do does did doing a an the and but if or because as until while
of at by for with about against between into through during before after
above below to from up down in out on off over under again further then once
here there when where why how all any both each few more most other some such
no nor not only own same so than too very s t can will just don don't should
should've now d ll m o re ve y ain aren aren't couldn couldn't didn didn't
doesn doesn't hadn hadn't hasn hasn't haven haven't isn isn't ma mightn
mightn't mustn mustn't needn needn't shan shan't shouldn shouldn't wasn
wasn't weren weren't won won't wouldn wouldn't im lol i'm got yeah it’s
i’m""".split()
STOPS = "(" + ",".join("'" + w.replace("'", "''") + "'" for w in STOPWORDS) + ")"


def clean(e):
    return (f"regexp_replace(regexp_replace(regexp_replace(lower({e}),"
            r" '\[.*?\]', '', 'g'),"
            r""" '[!"#$%&''()*+,\-./:;<=>?@\[\\\]^_`{|}~]', '', 'g'),"""
            r" '\w*\d\w*', '', 'g')")


def demojized(e):
    """The text graft's demojize must give for generated text: each
    injected emoji replaced by its :name:."""
    for ch, name in gen.EMOJI.items():
        e = f"replace({e}, '{ch}', ':{name}:')"
    return e


def has_emoji(e):
    return "(" + " OR ".join(f"contains({e}, '{ch}')" for ch in gen.EMOJI) + ")"


def parquet(path):
    return f"read_parquet('{path}/*.parquet')"


def count(con, sql):
    return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]


def expect_none(con, name, sql):
    """A check that passes when `sql` returns no rows."""
    try:
        n = count(con, sql)
        return (name, n == 0, f"{n} offending rows")
    except duckdb.Error as e:
        return (name, False, str(e).splitlines()[0])


def key_checks(con, flow, out, inp, key, exclude=None):
    """Every offered key once, no key twice, nothing else."""
    want = f"SELECT DISTINCT {key} AS k FROM {inp}"
    if exclude:
        want += f" WHERE {key} NOT IN (SELECT {key} FROM {exclude})"
    return [
        expect_none(con, f"{flow}: keys unique",
                    f"SELECT {key} FROM {out} GROUP BY {key} HAVING count(*) > 1"),
        expect_none(con, f"{flow}: keys are the offered keys",
                    f"(SELECT {key} AS k FROM {out} EXCEPT {want}) UNION ALL "
                    f"({want} EXCEPT SELECT {key} AS k FROM {out})"),
    ]


def vader_range(e):
    return (f"NOT ({e}.compound BETWEEN -1 AND 1 AND {e}.negative BETWEEN 0 AND 1"
            f" AND {e}.neutral BETWEEN 0 AND 1 AND {e}.positive BETWEEN 0 AND 1)")


def twitter_checks(con, out, inp):
    inp1 = f"(SELECT DISTINCT ON (tweet_id) * FROM {inp})"
    j = f"{out} o JOIN {inp1} i USING (tweet_id)"
    return key_checks(con, "twitter", out, inp, "tweet_id") + [
        expect_none(con, "twitter: demojized text",
                    f"SELECT 1 FROM {j} WHERE o.text <> {demojized('i.text')}"
                    f" OR {has_emoji('o.text')}"),
        expect_none(con, "twitter: hashtags",
                    f"SELECT 1 FROM {j} WHERE o.hashtags IS DISTINCT FROM "
                    rf"regexp_extract_all({demojized('i.text')}, '#(\w+)', 1)"),
        expect_none(con, "twitter: created_at",
                    f"SELECT 1 FROM {j} WHERE epoch(o.created_at) IS DISTINCT FROM "
                    "epoch(strptime(i.created_at, '%Y-%m-%d %H:%M:%S%z'))"),
        expect_none(con, "twitter: sentiment range",
                    f"SELECT 1 FROM {out} WHERE {vader_range('sentiment')}"),
    ]


def reddit_checks(con, out, inp, q50):
    inp = f"(SELECT DISTINCT ON (id) * FROM {inp})"
    # keywords: the reference's chain replayed over the demojized,
    # cleaned comments (as the q53 oracle does for emoji-free text)
    kw = f"""
      WITH c AS (
        SELECT id, unnest(comments) AS c, generate_subscripts(comments, 1) AS pos
        FROM {inp}),
      toks AS (
        SELECT id, flatten(list(list_filter(
          str_split({clean(demojized('c.text'))}, ' '), t -> t NOT IN {STOPS})
          ORDER BY pos)) AS tk
        FROM c GROUP BY id),
      idx AS (SELECT id, tk, unnest(range(1, len(tk))) AS i FROM toks),
      pairs AS (SELECT id, least(tk[i], tk[i+1]) AS a,
                       greatest(tk[i], tk[i+1]) AS b FROM idx),
      counts AS (SELECT id, a, b, count(*) AS c FROM pairs GROUP BY id, a, b),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY id
                 ORDER BY c DESC, a ASC, b ASC) AS rk FROM counts),
      top AS (SELECT * FROM ranked WHERE rk <= 5),
      flat AS (SELECT id, rk*2+1 AS ord, a AS w FROM top
               UNION ALL SELECT id, rk*2+2, b FROM top),
      dedup AS (SELECT id, w, min(ord) AS ord FROM flat GROUP BY id, w)
      SELECT id, list(w ORDER BY ord) AS keywords FROM dedup GROUP BY id"""
    oc = f"""(SELECT id, unnest(comments) AS c,
                     generate_subscripts(comments, 1) AS pos FROM {out})"""
    ic = f"""(SELECT id, unnest(comments).text AS text,
                     generate_subscripts(comments, 1) AS pos FROM {inp})"""
    checks = key_checks(con, "reddit", out, inp, "id") + [
        expect_none(con, "reddit: keywords",
                    f"SELECT 1 FROM {out} o LEFT JOIN ({kw}) k USING (id)"
                    " WHERE o.keywords IS DISTINCT FROM k.keywords"),
        expect_none(con, "reddit: created",
                    f"SELECT 1 FROM {out} WHERE created IS DISTINCT FROM "
                    "TIMESTAMP '2024-03-01 12:00:00'"),
        expect_none(con, "reddit: demojized comments",
                    f"SELECT 1 FROM {oc} o JOIN {ic} i USING (id, pos) WHERE "
                    f"o.c.text <> {clean(demojized('i.text'))} OR {has_emoji('o.c.text')}"),
        expect_none(con, "reddit: sentiment range",
                    f"SELECT 1 FROM {oc} WHERE {vader_range('c.sentiment')} UNION ALL "
                    f"SELECT 1 FROM {out} WHERE {vader_range('sentiment')}"),
    ]
    # VADER on plain document text (comments without injected emoji or
    # hashtags) must equal the q50 rule replay of the same text
    con.execute(f"""CREATE OR REPLACE TEMP TABLE documents AS
        SELECT row_number() OVER (ORDER BY id, pos) AS doc_id, id, pos, text
        FROM {ic} WHERE text <> '' AND NOT {has_emoji('text')}
          AND NOT contains(text, '#')""")
    checks.append(expect_none(
        con, "reddit: sentiment = q50 replay",
        f"""SELECT 1 FROM ({q50}) r JOIN documents d USING (doc_id)
            JOIN {oc} o ON o.id = d.id AND o.pos = d.pos
            WHERE abs(o.c.sentiment.compound - r.compound) > 1e-9
               OR abs(o.c.sentiment.positive - r.positive) > 1e-9
               OR abs(o.c.sentiment.negative - r.negative) > 1e-9
               OR abs(o.c.sentiment.neutral - r.neutral) > 1e-9"""))
    return checks


def rss_checks(con, out, inp, seen):
    inp1 = f"(SELECT DISTINCT ON (link) * FROM {inp})"
    tags = f"""
      WITH tok AS (
        SELECT link, unnest(list_filter(str_split_regex(lower(
          regexp_replace(content, '<[^>]*>', '', 'g')), '[^a-z0-9'']+'),
          t -> t <> '' AND t NOT IN {STOPS})) AS t FROM {inp1}),
      counts AS (SELECT link, t, count(*) AS c FROM tok GROUP BY link, t),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY link
                 ORDER BY c DESC, t ASC) AS rk FROM counts)
      SELECT link, list(t ORDER BY rk) AS tags FROM ranked WHERE rk <= 10
      GROUP BY link"""
    published = r"""CASE
      WHEN i.published_parsed IS NOT NULL THEN epoch(make_timestamp(
        i.published_parsed[1], i.published_parsed[2], i.published_parsed[3],
        i.published_parsed[4], i.published_parsed[5], i.published_parsed[6]))
      WHEN regexp_matches(split_part(i.published, ' ', -1), '\d') THEN
        epoch(strptime(regexp_replace(i.published, '^\w+,\s*', ''),
                       '%d %b %Y %H:%M:%S %z'))
      ELSE epoch(strptime(regexp_replace(regexp_replace(
        i.published, '^\w+,\s*', ''), '\s+\S+$', ''), '%d %b %Y %H:%M:%S'))
      END"""
    return key_checks(con, "rss", out, inp, "link", exclude=seen) + [
        expect_none(con, "rss: tags",
                    f"SELECT 1 FROM {out} o LEFT JOIN ({tags}) t USING (link)"
                    " WHERE o.tags IS DISTINCT FROM coalesce(t.tags, [])"),
        expect_none(con, "rss: published",
                    f"SELECT 1 FROM {out} o JOIN {inp1} i USING (link) WHERE "
                    f"epoch(o.published) IS DISTINCT FROM {published}"),
    ]


def cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 6))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def digest(con, sql):
    """Columns by name and a hash of the sorted, normalised rows."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted("|".join(cell(r[i]) for i in order) for r in cur.fetchall())
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return sorted(cols), len(rows), h


def corpus_checks(con, work, oracles, queries):
    checks = []
    for q in queries:
        name = f"corpus: {q} = oracle"
        try:
            got = digest(con, f"SELECT * FROM {parquet(os.path.join(work, 'out', 'corpus', q))}")
            want = digest(con, oracles[q])
            checks.append((name, got == want,
                           f"spark {got[:2]} vs oracle {want[:2]}"))
        except (duckdb.Error, KeyError) as e:
            checks.append((name, False, str(e).splitlines()[0]))
    return checks


def run(workload, data, work, res, wl, oracles):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    if workload == "corpus":
        for t in ("documents", "events", "embeddings"):
            p = os.path.join(data, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return corpus_checks(con, work, oracles, wl["queries"])

    def src(name):
        return f"read_parquet('{os.path.join(data, name + '.parquet')}')"

    if workload == "enrich":
        outs = {f: parquet(os.path.join(work, "out", f)) for f in ("twitter", "reddit", "rss")}
        ins = {"twitter": src("tweets"), "reddit": src("posts"), "rss": src("feeds")}
    else:
        # the rounds in the fresh sinks: the last warm-up pass's and the
        # measured ones, numbered from 0
        rounds = len(res["passes"]) - wl["warmup"]
        outs = {f: parquet(os.path.join(work, "sinks", f)) for f in ("twitter", "reddit", "rss")}
        ins = {f: f"(SELECT * EXCLUDE (batch) FROM {src('ingest_' + n)} WHERE batch < {rounds})"
               for f, n in (("twitter", "tweets"), ("reddit", "posts"), ("rss", "feeds"))}
    return (twitter_checks(con, outs["twitter"], ins["twitter"])
            + reddit_checks(con, outs["reddit"], ins["reddit"], oracles["q50_sentiment"])
            + rss_checks(con, outs["rss"], ins["rss"], src("seen")))
