"""Tests for the round-2 training-pipeline ops: line-level dedup,
eval-set decontamination, PII scrubbing, sequence packing, URL
normalization, connected-components dedup groups."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from sparkspatial import graph, text


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet").persist()
    yield df
    # unpersist: a cached scan of this parquet would otherwise be
    # substituted into later test modules' plans (test_plans asserts
    # on ReadSchema of the raw scan)
    df.unpersist()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM '{sf_dir}/documents.parquet'")
    return con


# ------------------------------------------------------------- line dedup

def _lined(df):
    """Multi-line corpus: shared header on every doc, unique body,
    footer shared by thirds."""
    return df.select(
        "doc_id",
        F.concat(F.lit("common header\n"), F.col("text"),
                 F.concat(F.lit("\nfooter "),
                          (F.col("doc_id") % 3).cast("string")))
        .alias("text"))


def test_line_dedup_semantics(spark):
    rows = [(0, "a\nb\nc"), (1, "b\nd"), (2, "a\nd\ne"), (3, "b")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.text_clean, r.n_lines_kept, r.n_lines_dropped)
           for r in text.line_dedup(df).collect()}
    # first (doc_id, pos) occurrence of each distinct line survives
    assert got[0] == ("a\nb\nc", 3, 0)
    assert got[1] == ("d", 1, 1)
    assert got[2] == ("e", 1, 2)
    assert got[3] == ("", 0, 1)


def test_line_dedup_cross_engine(docs, duck):
    corpus = _lined(docs)
    got = {r.doc_id: (r.text_clean, r.n_lines_kept, r.n_lines_dropped)
           for r in text.line_dedup(corpus).collect()}
    # line_dedup_duckdb_sql already ends in the final SELECT
    full = ("WITH corpus AS (SELECT doc_id, "
            "'common header' || chr(10) || text || chr(10) || 'footer ' "
            "|| CAST(doc_id % 3 AS VARCHAR) AS text FROM documents), "
            + text.line_dedup_duckdb_sql("corpus"))
    want = {r[0]: (r[1], r[2], r[3]) for r in duck.execute(full).fetchall()}
    assert got == want
    # exactly one doc keeps the common header
    n_with_header = sum(
        1 for t, _, _ in got.values() if "common header" in t)
    assert n_with_header == 1
    # exactly 3 footer survivors (one per doc_id % 3 class)
    n_with_footer = sum(1 for t, _, _ in got.values() if "footer" in t)
    assert n_with_footer == 3


# -------------------------------------------------------- decontamination

def test_decontaminate_flags_leaked_docs(spark):
    evald = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "completely unrelated words here nothing shared at all"),
         (2, "he said the quick brown fox jumps right in"),  # 5-gram hit
         (3, "quick brown fox is short")],  # only a 3-gram overlap
        "doc_id long, text string")
    got = {r.doc_id: r.contaminated
           for r in text.decontaminate(corpus, evald, shingle_k=5).collect()}
    assert got == {1: False, 2: True, 3: False}


def test_decontaminate_shared_shingle_substrate(docs):
    """shingle_hash_rows is the same substrate minhash uses: a doc is
    always contaminated against an eval set containing itself."""
    ev = docs.where("doc_id % 50 = 0").select("doc_id", "text")
    got = text.decontaminate(docs.select("doc_id", "text"), ev,
                             shingle_k=5)
    flagged = {r.doc_id for r in got.where("contaminated").collect()}
    assert {r.doc_id for r in ev.collect()} <= flagged


def test_shingle_hashes_per_row_under_duplicate_doc_ids(spark):
    """Duplicate doc_ids (id-hash collisions, or the same url crawled
    twice) must not cross-contaminate shingles: the frozen oracle side
    (shingle_hashes_duckdb_sql) shingles each document ROW
    independently, so the Spark substrate must too. The pre-r6
    window-lead formulation partitioned by doc_id and interleaved the
    two token streams tie-order-dependently — surfaced by a duplicate
    url in the replicate=10 scaling corpus (see OPTIMIZATION_r06.md,
    post-restart re-verification)."""
    a = (7, "alpha beta gamma delta epsilon zeta eta")
    b = (7, "one two three four five six seven eight")
    schema = "doc_id long, text string"
    def rows(data):
        df = spark.createDataFrame(data, schema)
        return sorted((r.pos, r.sh) for r in
                      text.shingle_hash_pos(df, shingle_k=5).collect())
    assert rows([a, b]) == sorted(rows([a]) + rows([b]))


def test_contamination_report_counts(spark):
    """Per-eval-doc overlap counts: a fully-leaked eval doc reports
    n_matched == n_shingles, a partial 5-gram hit reports exactly the
    shared shingles, an untouched doc reports 0; n_shingles equals
    the doc's distinct shingle count."""
    evald = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog"),   # leaked
         (200, "pack my box with five dozen liquor jugs"),       # clean
         (300, "one two three four five six")],                  # partial
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "copy: the quick brown fox jumps over the lazy dog"),
         (2, "prefix one two three four five then diverge")],
        "doc_id long, text string")
    got = {r.doc_id: (r.n_shingles, r.n_matched)
           for r in text.contamination_report(
               corpus, evald, shingle_k=5).collect()}
    # doc 100: 9 tokens -> 5 shingles, all present in corpus doc 1
    assert got[100] == (5, 5)
    # doc 200: 8 tokens -> 4 shingles, none present
    assert got[200] == (4, 0)
    # doc 300: 6 tokens -> 2 shingles; corpus doc 2 contains only
    # "one two three four five"
    assert got[300] == (2, 1)


def test_contamination_report_null_text_dropped(spark):
    """A NULL-text eval doc is ABSENT from the report (regression:
    Spark used to count its NULL shingle hash as a phantom
    n_shingles=1 row while the DuckDB twin — unnest of a NULL list —
    emits zero rows; the gate would mismatch on the first NULL-text
    table)."""
    evald = spark.createDataFrame(
        [(1, "the quick brown fox jumps over it"), (2, None)],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(10, "the quick brown fox jumps over it again")],
        "doc_id long, text string")
    rows = text.contamination_report(corpus, evald, shingle_k=5).collect()
    assert {r.doc_id for r in rows} == {1}
    assert all(r.n_shingles > 0 for r in rows)


def test_contamination_report_agrees_with_decontaminate(docs):
    """Direction consistency on the real table: an eval doc has
    n_matched > 0 iff decontaminate (corpus==docs) would flag SOME
    corpus doc for it... at minimum, eval docs drawn FROM the corpus
    report full overlap (the self-containment twin of the
    decontaminate substrate test)."""
    ev = docs.where("doc_id % 50 = 0").select("doc_id", "text")
    got = text.contamination_report(docs.select("doc_id", "text"), ev,
                                    shingle_k=5)
    rows = got.collect()
    assert len(rows) == ev.count()
    assert all(r.n_matched == r.n_shingles and r.n_shingles > 0
               for r in rows)


# ----------------------------------------------------------------- PII

def test_pii_scrub_cross_engine(spark):
    rows = [
        (1, "mail bob.smith+x@corp.example.com or call 555-123-4567"),
        (2, "server at 10.0.42.7 port 80"),
        (3, "no pii here at all"),
        (4, "two mails a@b.io c@d.org and +33 555-000-1234"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    counts = text.pii_count_sqls("text", "spark")
    got = {r.doc_id: (r.clean, r.n_email, r.n_phone, r.n_ip)
           for r in df.selectExpr(
               "doc_id",
               text.pii_scrub_sql("text", "spark") + " AS clean",
               counts["email"] + " AS n_email",
               counts["phone"] + " AS n_phone",
               counts["ip"] + " AS n_ip").collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    dcounts = text.pii_count_sqls("text", "duckdb")
    want = {r[0]: (r[1], r[2], r[3], r[4]) for r in con.execute(
        f"SELECT doc_id, {text.pii_scrub_sql('text', 'duckdb')}, "
        f"{dcounts['email']}, {dcounts['phone']}, {dcounts['ip']} "
        f"FROM t").fetchall()}
    assert got == want
    assert got[1][0] == "mail <EMAIL> or call <PHONE>"
    assert got[1][1:] == (1, 1, 0)
    assert got[2][0] == "server at <IP> port 80"
    assert got[3][1:] == (0, 0, 0)
    assert got[4][1:] == (2, 1, 0)


# ------------------------------------------------------------ seq packing

def test_pack_sequences_cross_engine(docs, duck, sf_dir):
    got = {r.doc_id: (r.shard, r.pack_id, r.start_off, r.n_tokens)
           for r in text.pack_sequences(docs).collect()}
    want = {r[0]: (r[1], r[2], r[3], r[4]) for r in duck.execute(
        "WITH " + text.pack_sequences_duckdb_sql("documents")).fetchall()}
    assert got == want


def test_pack_sequences_invariants(docs):
    out = text.pack_sequences(docs, seq_len=256, n_shards=8).collect()
    assert {r.shard for r in out} <= set(range(8))
    assert all(0 <= r.start_off < 256 for r in out)
    # within a shard, token spans tile contiguously: sorting docs by
    # (pack_id*256+start_off) gives end == next start
    from collections import defaultdict
    by_shard = defaultdict(list)
    for r in out:
        by_shard[r.shard].append((r.pack_id * 256 + r.start_off,
                                  r.n_tokens))
    for spans in by_shard.values():
        spans.sort()
        pos = 0
        for start, n in spans:
            assert start == pos
            pos += n


def test_pack_sequences_partition_invariant(docs):
    a = {tuple(r) for r in text.pack_sequences(docs).collect()}
    b = {tuple(r)
         for r in text.pack_sequences(docs.repartition(13)).collect()}
    assert a == b


# ----------------------------------------------------------------- URL

def test_url_parts_cross_engine(spark):
    rows = [(1, "https://WWW.Example.COM/a/b/?q=1#frag"),
            (2, "http://sub.shop.co.uk/path/"),
            (3, "example.org"),
            (4, "ftp://files.example.net/pub")]
    df = spark.createDataFrame(rows, "id long, url string")
    p = text.url_parts_sqls("url", "spark")
    got = {r.id: (r.host, r.path, r.tld) for r in df.selectExpr(
        "id", p["host"] + " AS host", p["path"] + " AS path",
        p["tld"] + " AS tld").collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, url VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    d = text.url_parts_sqls("url", "duckdb")
    want = {r[0]: (r[1], r[2], r[3]) for r in con.execute(
        f"SELECT id, {d['host']}, {d['path']}, {d['tld']} FROM t"
    ).fetchall()}
    assert got == want
    assert got[1] == ("example.com", "/a/b", "com")
    assert got[2] == ("sub.shop.co.uk", "/path", "uk")
    assert got[3] == ("example.org", "", "org")
    assert got[4] == ("files.example.net", "/pub", "net")


# ------------------------------------------------- connected components

def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (9, 9), (7, 3)],
        "id_a long, id_b long")
    got = {r.node: r.component
           for r in graph.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 1, 5: 5, 6: 5, 9: 9}


def test_connected_components_chain_vs_duckdb(spark):
    # a 12-node path graph (worst case for hash-min: diameter rounds)
    # + a clique, checked against the recursive-CTE oracle
    rows = [(i, i + 1) for i in range(20, 32)] + \
           [(40, 41), (41, 42), (40, 42)]
    edges = spark.createDataFrame(rows, "id_a long, id_b long")
    got = {r.node: r.component
           for r in graph.connected_components(edges).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE e (id_a BIGINT, id_b BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", rows)
    want = dict(con.execute(
        "WITH RECURSIVE " + graph.components_duckdb_sql("e")
        + " SELECT node, component FROM comp").fetchall())
    assert got == want
    assert got[31] == 20 and got[42] == 40


def test_connected_components_transitive_closure_beats_pairwise(spark):
    """A~B, B~C with no A~C pair: components merge all three (the
    survivor-per-pair convention would under-merge)."""
    edges = spark.createDataFrame([(10, 11), (11, 12)],
                                  "id_a long, id_b long")
    got = {r.node: r.component
           for r in graph.connected_components(edges).collect()}
    assert got == {10: 10, 11: 10, 12: 10}


# ----------------------------------------------------------------- semdedup

def test_semdedup_matches_per_cluster_bruteforce(spark, sf_dir):
    import numpy as np

    from sparkspatial import sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {r.vec_id
           for r in sim.semdedup(emb, 0.444, n_clusters=8).collect()}

    cent = sim.ivf_centroids(emb, 8)
    pdf = sim.ivf_assign(emb.select("vec_id", "embedding"), cent) \
        .toPandas()
    expect_losers = set()
    for _, grp in pdf.groupby("cluster"):
        ids = grp["vec_id"].to_numpy()
        mat = np.stack([np.asarray(v, dtype=np.float64)
                        for v in grp["embedding"]])
        norm = np.linalg.norm(mat, axis=1)
        norm[norm == 0] = 1.0
        cos = (mat @ mat.T) / norm[:, None] / norm[None, :]
        keep = (cos >= 0.444) & (ids[:, None] < ids[None, :])
        _, jj = np.nonzero(keep)
        expect_losers.update(ids[jj].tolist())
    all_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    assert got == all_ids - expect_losers
    assert len(expect_losers) > 0  # threshold actually fires


def test_semdedup_partition_invariant(spark, sf_dir):
    from sparkspatial import sim

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = {r.vec_id for r in sim.semdedup(emb, 0.444).collect()}
    b = {r.vec_id
         for r in sim.semdedup(emb.repartition(17), 0.444).collect()}
    assert a == b


def test_semdedup_mega_cluster_cap(spark):
    """r2 verdict item 3: a forced mega-cluster of 3000 EXACTLY
    identical embeddings (every secondary LSH sign bit equal, so the
    geometric re-split can't part them) must be hash-split under the
    cap — no final cluster holds an n^2-sized batch — and the
    survivors must still match the per-FINAL-cluster brute force."""
    import numpy as np

    from sparkspatial import sim

    n = 3000
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(n)]
    rows += [(n + j, [float(x) for x in np.eye(4)[1 + j]])
             for j in range(3)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cap = 256
    clusters = sim.semdedup_clusters(emb, n_clusters=2, max_cluster=cap)
    sizes = [r["cnt"] for r in clusters.groupBy("fcluster")
             .agg(F.count(F.lit(1)).alias("cnt")).collect()]
    # hash split targets ceil(3000/256)=12 parts of ~250; allow
    # uniform-hash imbalance but never anything near the 3000 blob
    assert max(sizes) <= int(cap * 1.5), sorted(sizes)[-5:]

    got = {r.vec_id for r in
           sim.semdedup(emb, 0.9, n_clusters=2,
                        max_cluster=cap).select("vec_id").collect()}

    # per-final-cluster brute force on the SAME capped clustering
    pdf = clusters.toPandas()
    losers = set()
    for _, grp in pdf.groupby("fcluster"):
        ids = grp["vec_id"].to_numpy()
        mat = np.stack([np.asarray(v, dtype=np.float64)
                        for v in grp["embedding"]])
        norm = np.linalg.norm(mat, axis=1)
        norm[norm == 0] = 1.0
        cos = (mat @ mat.T) / norm[:, None] / norm[None, :]
        _, jj = np.nonzero((cos >= 0.9) & (ids[:, None] < ids[None, :]))
        losers |= {int(x) for x in ids[jj]}
    want = {i for i, _ in rows} - losers
    assert got == want
    # the identical blob keeps exactly one survivor per hash part,
    # the 3 orthogonal vectors all survive
    assert {n, n + 1, n + 2} <= got and 0 in got
    assert len(got) <= 3 + int(np.ceil(n / cap)) + 3


# ------------------------------------------------- randomized brute force

def test_line_dedup_random_corpus_bruteforce(spark):
    """200 random multi-line docs (seeded): Spark line_dedup ==
    pure-Python reference implementation."""
    import random

    rng = random.Random(42)
    vocab = [f"line{i}" for i in range(30)]
    rows = [(i, "\n".join(rng.choice(vocab)
                          for _ in range(rng.randint(1, 8))))
            for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.text_clean, r.n_lines_kept, r.n_lines_dropped)
           for r in text.line_dedup(df).collect()}

    seen = {}
    for did, t in rows:  # rows are already (doc_id, pos)-ordered
        for pos, line in enumerate(t.split("\n")):
            seen.setdefault(line, (did, pos))
    want = {}
    for did, t in rows:
        lines = t.split("\n")
        kept = [l for pos, l in enumerate(lines)
                if seen[l] == (did, pos)]
        want[did] = ("\n".join(kept), len(kept), len(lines) - len(kept))
    assert got == want


def test_connected_components_random_graph_bruteforce(spark):
    """Seeded random graph: hash-min components == union-find."""
    import random

    rng = random.Random(7)
    nodes = list(range(120))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(90)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    in_graph = {a for a, _ in edges} | {b for _, b in edges}
    want = {n: find(n) for n in in_graph}

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.node: r.component
           for r in graph.connected_components(df).collect()}
    assert got == want


# ------------------------------------------------------- BPE tokenizer

def test_bpe_token_count_cross_engine(spark):
    rows = [(1, "Hello world, it's 2026! café #42 naïve—dash"),
            (2, "   "), (3, "don't you'll we've I'm he'd they're"),
            (4, "a1b2c3 ...!!! end")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n, list(r.toks)) for r in df.selectExpr(
        "doc_id",
        text.token_count_bpe_sql("text", "spark") + " AS n",
        text.bpe_tokens_sql("text", "spark") + " AS toks").collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = {r[0]: (r[1], r[2]) for r in con.execute(
        f"SELECT doc_id, {text.token_count_bpe_sql('text', 'duckdb')}, "
        f"{text.bpe_tokens_sql('text', 'duckdb')} FROM t").fetchall()}
    assert got == want
    assert got[1][0] == 13
    assert got[2][0] == 0
    # contraction suffixes split off as their own tokens
    assert "'t" in got[3][1] and "'re" in got[3][1]


# ------------------------------------------------- numpy MinHash parity

def test_minhash_pandas_matches_batch(docs):
    """The numpy reference signature path is bit-identical to the
    batch window-lead path."""
    import numpy as np

    pdf = docs.select("doc_id", "text").orderBy("doc_id").toPandas()
    got = text.minhash_pandas(pdf["text"].tolist(), n_hashes=8)
    batch = (text.minhash_signatures(docs, n_hashes=8)
             .orderBy("doc_id").toPandas())
    want = batch[[f"mh{j}" for j in range(8)]].to_numpy()
    assert (batch["doc_id"].to_numpy() == pdf["doc_id"].to_numpy()).all()
    assert np.array_equal(got, want)


# ------------------------------------------- cross-engine regex fuzzing

def test_regex_ops_cross_engine_fuzz(spark):
    """800 seeded random strings (ASCII + accented letters + digits +
    punctuation + PII-shaped fragments) through every regex-based op
    in BOTH engines: Java regex (Spark) and RE2 (DuckDB) must agree
    exactly — this is where dialect drift (unicode classes, greediness,
    anchors) would silently break the oracle gate."""
    import random

    rng = random.Random(1234)
    alphabet = (list("abcdefgh XYZ0123456789 .,!?#@:/-_'\n\t")
                + list("àéîöñçß€日本")
                # \x0b: Java \s has it, RE2 \s does not — the explicit
                # whitespace classes exist for exactly this char;
                # \xa0 (NBSP): unicode-wide \s would eat it
                + ["\x0b", "\x0c", "\xa0"])
    frags = ["user@ex.com", "x@y.io.", "555-123-4567", "+1 555-000-1111",
             "10.0.0.1", "999.1.2.3", "https://www.Ex.COM/a/b?q=1",
             "ftp://f.net/", "it's", "don't", "'", "@", "P6", "@@"]

    def rand_s():
        parts = []
        for _ in range(rng.randint(0, 12)):
            parts.append(rng.choice(frags) if rng.random() < 0.3
                         else "".join(rng.choice(alphabet)
                                      for _ in range(rng.randint(1, 8))))
        return " ".join(parts)

    rows = [(i, rand_s()) for i in range(800)]
    df = spark.createDataFrame(rows, "id long, s string")
    counts = text.pii_count_sqls("s", "spark")
    parts = text.url_parts_sqls("s", "spark")
    got = {r.id: tuple(r)[1:] for r in df.selectExpr(
        "id",
        text.pii_scrub_sql("s", "spark") + " AS scrub",
        counts["email"] + " AS ne", counts["phone"] + " AS np",
        counts["ip"] + " AS ni",
        text.token_count_bpe_sql("s", "spark") + " AS nb",
        text.norm_text_sql("s", "spark") + " AS norm",
        text.token_count_sql("s", "spark") + " AS nt",
        parts["host"] + " AS host", parts["tld"] + " AS tld").collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE t (id BIGINT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    dcounts = text.pii_count_sqls("s", "duckdb")
    dparts = text.url_parts_sqls("s", "duckdb")
    want = {r[0]: tuple(r)[1:] for r in con.execute(
        f"SELECT id, {text.pii_scrub_sql('s', 'duckdb')}, "
        f"{dcounts['email']}, {dcounts['phone']}, {dcounts['ip']}, "
        f"{text.token_count_bpe_sql('s', 'duckdb')}, "
        f"{text.norm_text_sql('s', 'duckdb')}, "
        f"{text.token_count_sql('s', 'duckdb')}, "
        f"{dparts['host']}, {dparts['tld']} FROM t").fetchall()}
    mismatches = {i: (got[i], want[i]) for i in got if got[i] != want[i]}
    assert not mismatches, list(mismatches.items())[:3]


# --------------------------------------------- star-contraction CC

def _unionfind(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def test_star_cc_matches_hashmin_and_unionfind(spark):
    import random

    rng = random.Random(99)
    nodes = list(range(150))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(100)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    star = {r.node: r.component
            for r in graph.connected_components_star(df).collect()}
    hmin = {r.node: r.component
            for r in graph.connected_components(df).collect()}
    in_graph = {a for a, _ in edges} | {b for _, b in edges}
    want = {n: c for n, c in _unionfind(nodes, edges).items()
            if n in in_graph}
    assert star == hmin == want


def test_star_cc_long_path_logarithmic_rounds(spark):
    """A 2000-node path with shuffled ids: hash-min needs ~2000 rounds
    (over its cap), star contraction converges in O(log n) — the case
    the at-scale algorithm exists for."""
    import random

    ids = list(range(2000))
    random.Random(5).shuffle(ids)
    edges = [(ids[i], ids[i + 1]) for i in range(1999)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.node: r.component
           for r in graph.connected_components_star(df,
                                                    max_iter=25).collect()}
    assert set(got.values()) == {0}  # one component, rooted at min id
    assert len(got) == 2000


def test_hashmin_falls_back_to_star_on_long_chain(spark):
    """Diameter > max_iter: hash-min no longer hard-fails — it falls
    back to star contraction (ADVICE r2) and still returns the exact
    components."""
    edges = [(i, i + 1) for i in range(60)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.node: r.component
           for r in graph.connected_components(df, max_iter=5).collect()}
    assert set(got.values()) == {0} and len(got) == 61


def test_hashmin_stagnation_fallback_early_and_exact(spark):
    """ADVICE r3: the fallback no longer restarts from raw edges at
    max_iter — a stagnating delta trend (chain) switches to star
    contraction early, over the label-contracted quotient graph, and
    the composed result is still exact. A chain long enough that 5
    rounds cannot finish but short enough that the old code would
    have burned all 25 default rounds: with stagnation detection the
    answer must come back correct well before max_iter, alongside a
    mixed graph (chain + cliques + isolated self-loop)."""
    edges = ([(i, i + 1) for i in range(80)]            # long chain
             + [(1000, 1001), (1001, 1002), (1000, 1002)]  # triangle
             + [(2000, 2000)])                          # self-loop
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.node: r.component
           for r in graph.connected_components(df, max_iter=25).collect()}
    assert {got[i] for i in range(81)} == {0}
    assert got[1000] == got[1001] == got[1002] == 1000
    assert got[2000] == 2000
    assert len(got) == 85


def test_star_cc_keeps_self_loop_nodes(spark):
    edges = spark.createDataFrame([(7, 7), (1, 2)], "id_a long, id_b long")
    star = {r.node: r.component
            for r in graph.connected_components_star(edges).collect()}
    hmin = {r.node: r.component
            for r in graph.connected_components(edges).collect()}
    assert star == hmin == {7: 7, 1: 1, 2: 1}


def test_minhash_pandas_parity_on_hostile_whitespace(spark):
    """\\x0B / NBSP / tabs: the numpy path and the batch path must
    still produce identical signatures (the ASCII-\\s contract)."""
    import numpy as np

    rows = [(1, "a\x0bb c d e"), (2, "x\xa0y z w v"),
            (3, "  p\tq  r s t  "), (4, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    batch = (text.minhash_signatures(df, n_hashes=8)
             .orderBy("doc_id").toPandas())
    local = text.minhash_pandas([t for _, t in rows], n_hashes=8)
    assert np.array_equal(
        batch[[f"mh{j}" for j in range(8)]].to_numpy(), local)


def test_new_ops_empty_input_contract(spark):
    """Empty inputs return empty results with the declared schema —
    never raise (negative-path parity, TransformTest bad* analog)."""
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert text.line_dedup(empty).count() == 0
    assert text.pack_sequences(empty).count() == 0
    ev = spark.createDataFrame([(1, "some eval text here")],
                               "doc_id long, text string")
    assert text.decontaminate(empty, ev).count() == 0
    no_edges = spark.createDataFrame([], "id_a long, id_b long")
    assert graph.connected_components(no_edges).count() == 0
    assert graph.connected_components_star(no_edges).count() == 0


# --------------------------------------------------------- winnowing

def test_winnowing_shared_run_guarantee(spark):
    """The winnowing guarantee: two docs sharing a run of
    window+k-1 = 8 tokens share at least one fingerprint; disjoint
    docs share none (with overwhelming probability)."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [(1, "intro words here " + shared + " trailing bits"),
            (2, shared + " completely different ending follows now"),
            (3, "nothing in common with the others at all here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = text.winnowing_fingerprints(df, shingle_k=5, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2]          # shared 8-token run
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])


def test_winnowing_partition_invariant(docs):
    a = {(r.doc_id, r.fp)
         for r in text.winnowing_fingerprints(docs).collect()}
    b = {(r.doc_id, r.fp)
         for r in text.winnowing_fingerprints(
             docs.repartition(11)).collect()}
    assert a == b and len(a) > 0


# ---------------------------------------------------- duplicated spans

def test_duplicated_spans_semantics(spark):
    """A 10-token boilerplate shared by two docs yields one maximal
    span each of exactly 6 shingles (10-5+1) / 10 tokens; the unique
    remainder yields nothing."""
    boiler = "one two three four five six seven eight nine ten"
    rows = [(1, "unique prefix words here " + boiler),
            (2, boiler + " totally different suffix content words"),
            (3, "no shared content in this document at all present")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_id, r.span_start, r.n_shingles, r.span_tokens)
           for r in text.duplicated_spans(df, shingle_k=5,
                                          min_run=3).collect()}
    assert got == {(1, 4, 6, 10), (2, 0, 6, 10)}


def test_duplicated_spans_min_run_threshold(spark):
    """A shared run of only k+1 tokens (2 shingles) stays below
    min_run=3 and is not reported."""
    short = "aa bb cc dd ee ff"  # 6 tokens -> 2 shared 5-shingles
    rows = [(1, short + " xx yy zz"), (2, "pp qq " + short)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert text.duplicated_spans(df, shingle_k=5,
                                 min_run=3).count() == 0
    assert text.duplicated_spans(df, shingle_k=5,
                                 min_run=2).count() == 2


def test_remove_duplicated_spans_scrubs_boilerplate(spark):
    boiler = "one two three four five six seven eight nine ten"
    rows = [(1, "Unique Prefix Words Here " + boiler),
            (2, boiler + " totally different suffix content words"),
            (3, "nothing shared with the others in this one at all")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.text_clean, r.n_tokens_removed)
           for r in text.remove_duplicated_spans(
               df, shingle_k=5, min_run=3).collect()}
    # boilerplate gone from BOTH docs (all occurrences); output is the
    # normalized (lowercased) token stream
    assert got[1] == ("unique prefix words here", 10)
    assert got[2] == ("totally different suffix content words", 10)
    assert got[3][1] == 0


def test_remove_duplicated_spans_empty_doc_zero_removed(spark):
    """Empty / whitespace-only docs report 0 tokens removed (the ''
    pseudo-token from splitting an empty string is not counted)."""
    rows = [(1, ""), (2, "   "), (3, "real words in this document")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.n_tokens_removed
           for r in text.remove_duplicated_spans(df).collect()}
    assert got == {1: 0, 2: 0, 3: 0}


# --------------------------------------------------------------- BPE

def test_bpe_train_matches_reference_canonical(spark):
    """The Sennrich et al. canonical corpus: distributed merge rules
    == the textbook pure-Python algorithm, including tie order."""
    from sparkspatial import bpe

    df = spark.createDataFrame(
        [(1, "low low low low low lower lower newest newest newest "
             "newest newest newest widest widest widest")],
        "doc_id long, text string")
    rules = bpe.bpe_train(df, 8)
    wc = {r.word: r.weight for r in bpe.word_counts(df).collect()}
    assert rules == bpe.bpe_reference(wc, 8)
    assert rules[0] == ("e", "s", 9)  # the famous first merge


def test_bpe_train_matches_reference_on_corpus(docs):
    from sparkspatial import bpe

    sub = docs.where("doc_id < 100").select("doc_id", "text")
    rules = bpe.bpe_train(sub, 12)
    wc = {r.word: r.weight for r in bpe.word_counts(sub).collect()}
    assert rules == bpe.bpe_reference(wc, 12)
    assert len(rules) == 12


def test_bpe_train_local_matches_all_paths(docs, spark):
    """bpe_train (distributed word count + in-driver incremental merge
    loop) produces EXACTLY the textbook rules, including tie order, on
    the corpus and on a quote/backslash/degenerate-repeat fixture."""
    from sparkspatial import bpe

    sub = docs.where("doc_id < 100").select("doc_id", "text")
    wc = {r.word: r.weight for r in bpe.word_counts(sub).collect()}
    assert bpe.bpe_train(sub, 40) == bpe.bpe_reference(wc, 40)

    hostile = spark.createDataFrame(
        [(1, "it's a\\b it's it's a\\b don't don't x'y x'y"),
         (2, "aaaa aaaa aab aab")],
        "doc_id long, text string")
    wch = {r.word: r.weight for r in bpe.word_counts(hostile).collect()}
    assert bpe.bpe_train(hostile, 50) == bpe.bpe_reference(wch, 50)


def test_bpe_train_job_ceiling(spark, sf_dir):
    """Training runs the word count's jobs and no more: the same count
    at 5 and 20 merges, at most 2 (46 with one Spark aggregate per
    merge round)."""
    from sparkspatial import bpe

    path = f"{sf_dir}/documents.parquet"
    docs = spark.read.schema(spark.read.parquet(path).schema).parquet(path)
    sc = spark.sparkContext
    jobs = {}
    for n in (5, 20):
        group = f"bpe-train-{n}"
        sc.setJobGroup(group, group)
        try:
            rules = bpe.bpe_train(docs, n)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(rules) == n
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs[5] == jobs[20] <= 2, jobs


def test_bpe_handles_quotes_and_backslashes(spark):
    """Symbols with ' or \\ survive training (real English corpora
    merge apostrophe pairs early)."""
    from sparkspatial import bpe

    df = spark.createDataFrame(
        [(1, "don't don't don't don't can't can't a\\b a\\b a\\b")],
        "doc_id long, text string")
    rules = bpe.bpe_train(df, 6)
    wc = {r.word: r.weight for r in bpe.word_counts(df).collect()}
    assert rules == bpe.bpe_reference(wc, 6)
    assert any("'" in a or "'" in b for a, b, _ in rules)


# --------------------------------------------------------------- geohash

def test_geohash_cross_engine_and_reference(spark):
    """Spark SQL == DuckDB SQL == textbook bisection reference,
    including the published vectors (ezs42, u4pruydqq)."""
    from sparkspatial import geohash as gh

    pts = [(1, 42.605, -5.603), (2, 57.64911, 10.40744),
           (3, 0.0, 0.0), (4, -89.99, -179.99), (5, 89.99, 179.99),
           (6, 48.8584, 2.2945)]
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    got = {r.id: r.g for r in df.selectExpr(
        "id", gh.geohash_sql("lat", "lon", 9, "spark") + " AS g").collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id BIGINT, lat DOUBLE, lon DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", pts)
    want = dict(con.execute(
        f"SELECT id, {gh.geohash_sql('lat', 'lon', 9, 'duckdb')} "
        f"FROM t").fetchall())
    ref = {i: gh.geohash_reference(la, lo, 9) for i, la, lo in pts}
    assert got == want == ref
    assert got[1].startswith("ezs42")
    assert got[2] == "u4pruydqq"


def test_geohash_random_cross_engine(spark):
    import random

    from sparkspatial import geohash as gh

    rng = random.Random(31)
    pts = [(i, rng.uniform(-90, 90), rng.uniform(-180, 180))
           for i in range(300)]
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    got = {r.id: r.g for r in df.selectExpr(
        "id", gh.geohash_sql("lat", "lon", 8, "spark") + " AS g").collect()}
    ref = {i: gh.geohash_reference(la, lo, 8) for i, la, lo in pts}
    assert got == ref
    con = duckdb.connect()
    con.execute("CREATE TABLE t(id BIGINT, lat DOUBLE, lon DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", pts)
    duck = dict(con.execute(
        f"SELECT id, {gh.geohash_sql('lat', 'lon', 8, 'duckdb')} "
        f"FROM t").fetchall())
    assert duck == ref
    # out-of-range inputs clamp to edge cells, identically
    bad = [(1, -95.0, -200.0), (2, 95.0, 200.0)]
    bdf = spark.createDataFrame(bad, "id long, lat double, lon double")
    sgot = {r.id: r.g for r in bdf.selectExpr(
        "id", gh.geohash_sql("lat", "lon", 5, "spark") + " AS g").collect()}
    con.execute("DELETE FROM t")
    con.executemany("INSERT INTO t VALUES (?,?,?)", bad)
    dgot = dict(con.execute(
        f"SELECT id, {gh.geohash_sql('lat', 'lon', 5, 'duckdb')} "
        f"FROM t").fetchall())
    assert sgot == dgot == {1: "00000", 2: "zzzzz"}


def test_geohash_prefix_property(spark):
    """The defining geohash invariant: a coarser-precision hash is the
    PREFIX of the finer one (hierarchical containment) — in the SQL
    codec and the reference alike."""
    import random

    from sparkspatial import geohash as gh

    rng = random.Random(77)
    pts = [(i, rng.uniform(-90, 90), rng.uniform(-180, 180))
           for i in range(200)]
    df = spark.createDataFrame(pts, "id long, lat double, lon double")
    rows = df.selectExpr(
        "id",
        gh.geohash_sql("lat", "lon", 4, "spark") + " AS g4",
        gh.geohash_sql("lat", "lon", 9, "spark") + " AS g9").collect()
    for r in rows:
        assert r.g9.startswith(r.g4)
    for i, la, lo in pts[:50]:
        assert gh.geohash_reference(la, lo, 9).startswith(
            gh.geohash_reference(la, lo, 4))
