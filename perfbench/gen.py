"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes. The engine only ever sees the files written here.

- :func:`vat_sheet` — one month of a year of VAT "sheets" as a CSV file
  with messy money strings, polymorphic dates, Box variants and header
  aliases, plus the summary the engine must produce, computed here from the
  clean values each messy cell encodes.
- :func:`query_tables` — the ten TPC-H-ish driver tables (``region`` ..
  ``embeddings``) in the driver testdata's schemas and distributions.
- :func:`fuzzy_corpus` — ``tools/gen_fuzzy_corpus.generate(gopherable=True)``
  plus planted line repeats, span repeats and near-dup shuffles, and, from
  the funnel's DuckDB twins, how many of them the ``line_dedup``,
  ``span_removal`` and ``neardup`` stages remove and the funnel counts the
  build must report.
- :func:`stream_epoch` — one epoch of the streaming feed.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import pathlib
import shutil
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tools.gen_fuzzy_corpus import generate
from tools.gen_tpch import (
    ADJ,
    DAY_US,
    EPOCH_1995,
    EPOCH_2024,
    ETYPES,
    NOUN,
    ORDER_DAYS,
    PRIORITIES,
    PTYPES,
    REGIONS,
    SEGMENTS,
    _ts,
)

# --------------------------------------------------------------------------
# vat_etl: monthly sheets
# --------------------------------------------------------------------------

_MONTHS = ["January", "February", "March", "April", "May", "June", "July",
           "August", "September", "October", "November", "December"]
_ABBR = [m[:3] for m in _MONTHS]

# canonical column -> header spellings the engine's alias map accepts
_HEADERS = {
    "Supply Type": ["Supply Type"],
    "Invoice Number": ["#", "Invoice #", "Invoice No.", "Invoice Number"],
    "Date": ["Date", " Date "],
    "Customer/supplier Name": ["Customer/supplier Name", "Customer Name",
                               "Supplier Name"],
    "Supply/Purchase Value": ["Net", " Net", "Supply/Purchase Value"],
    "VAT Value": ["Tax", "VAT Value"],
    "Invoice Value": ["Gross", "Invoice Value"],
    "Recoverable": ["Recoverable"],
    "Box": ["Box", "Box "],
}

# (cell text, box letters the reference's substring matching credits).
# "BOX A" also contains B and "BOX C" also contains B; an empty cell reads
# as NULL, which the reference stringifies to "NAN" (contains A).
_BOXES = [
    ("A", "A"), ("B", "B"), ("C", "C"), ("a", "A"), (" b", "B"),
    ("c ", "C"), ("Box A", "AB"), ("Box B", "B"), ("Box C", "BC"), ("", "A"),
]
_BOX_P = np.array([24, 18, 24, 6, 5, 6, 5, 4, 5, 3], dtype=float)
_BOX_P /= _BOX_P.sum()

_RATES = {"USD": Decimal("3.67"), "EUR": Decimal("3.98"), "GBP": Decimal("4.62")}


def _sheet_name(rng: np.random.Generator, year: int, m: int) -> str:
    k = int(rng.integers(0, 6))
    if k == 0:
        return f"{_ABBR[m - 1]} {year}"
    if k == 1:
        return f"{_MONTHS[m - 1]}-{year % 100:02d}"
    if k == 2:
        return f"VAT {_ABBR[m - 1].upper()}_{year}"
    if k == 3:
        return f"{m:02d}.{year}"
    if k == 4 and m == 9:
        return f"Sept {year}"
    return f"Sales {_MONTHS[m - 1].lower()} {year}"


def _money(rng: np.random.Generator, cents: int) -> tuple[str, int]:
    """(messy cell text, AED cents the engine must read from it)."""
    k = int(rng.integers(0, 10))
    neg = cents < 0
    a = abs(cents)
    plain = f"{a // 100}.{a % 100:02d}"
    grouped = f"{a // 100:,}.{a % 100:02d}"
    if k <= 5:
        if neg:
            text = f"({grouped})" if k % 2 else f"-{plain}"
        else:
            text = [plain, f"AED {grouped}", f"{grouped} AED",
                    f"AED  {plain}", f" {plain} ", f"AED{plain}"][k]
        return text, cents
    # foreign currency: the engine converts with round(x * rate, 2) HALF_UP
    code = ["USD", "EUR", "GBP", "USD"][k - 6]
    while True:
        exact = Decimal(plain) * _RATES[code]
        if exact.as_tuple().exponent < -2 and str(exact).endswith("50"):
            a += 1  # a half-cent product rounds differently across libraries
            plain = f"{a // 100}.{a % 100:02d}"
            continue
        break
    aed = int((exact.quantize(Decimal("0.01"), ROUND_HALF_UP) * 100))
    text = f"{code} ({plain})" if neg else f"{code} {plain}"
    return text, -aed if neg else aed


def _date(rng: np.random.Generator, year: int, m: int) -> str:
    day = int(rng.integers(1, 29))
    d = dt.date(year, m, day)
    k = int(rng.integers(0, 9))
    return [
        f"{day}/{m}/{year}", f"{day:02d}-{m:02d}-{year}", f"{day}.{m}.{year}",
        d.isoformat(), str((d - dt.date(1899, 12, 30)).days),
        f"{day} {_ABBR[m - 1]} {year}", f"{_ABBR[m - 1]} {day} {year}",
        f"{_MONTHS[m - 1]} {day}, {year}", "n/a",
    ][k]


def vat_sheet(out_dir: str, seed: int, month: int, rows: int) -> dict:
    """Write the CSV sheet of ``month`` (1-12) of the seed's year under
    ``out_dir``. Returns its ``path``, ``period`` ("Jan 2024") and
    ``expected``: {period: {"A": [net, vat], "B": .., "C": ..}} in integer
    AED cents. Each sheet is a function of (seed, month) alone."""
    year = int(np.random.default_rng([seed, 1]).integers(2019, 2026))
    rng = np.random.default_rng([seed, 1, month])
    name = _sheet_name(rng, year, month)
    period = f"{_ABBR[month - 1]} {year}"
    acc = {L: [0, 0] for L in "ABC"}
    cols = list(_HEADERS)
    order = rng.permutation(len(cols))
    header = [_HEADERS[cols[i]][int(rng.integers(0, len(_HEADERS[cols[i]])))]
              for i in order]
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{name}.csv")
    boxes = rng.choice(len(_BOXES), size=rows, p=_BOX_P)
    nets = rng.integers(100, 5_000_000, size=rows)
    credit = rng.random(rows) < 0.05
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(header)
        for i in range(rows):
            box_text, letters = _BOXES[int(boxes[i])]
            net_c = -int(nets[i]) if credit[i] else int(nets[i])
            vat_c = 0 if letters == "B" else net_c // 20
            net_s, net_aed = _money(rng, net_c)
            vat_s, vat_aed = _money(rng, vat_c)
            for L in letters:
                if L in acc:
                    acc[L][0] += net_aed
                    acc[L][1] += vat_aed
            row = {
                "Supply Type": ["Standard Rated", "Zero Rated", "Input"][i % 3],
                "Invoice Number": f"INV-{month:02d}{i:06d}",
                "Date": _date(rng, year, month),
                "Customer/supplier Name": f"Trader {int(rng.integers(0, 500))}, LLC",
                "Supply/Purchase Value": net_s,
                "VAT Value": vat_s,
                "Invoice Value": f"{(net_c + vat_c) / 100:.2f}",
                "Recoverable": "Yes" if i % 4 else "No",
                "Box": box_text,
            }
            w.writerow([row[cols[j]] for j in order])
    return {"path": path, "period": period, "expected": {period: acc}}


def expected_summary_rows(expected: dict) -> dict[tuple[str, str], tuple]:
    """{(period, box): (net, vat, payable)} in AED, 2 dp — the reference's
    4-rows-per-period shape with Box D = A - C."""
    out = {}
    for period, acc in expected.items():
        for L in "ABC":
            out[(period, f"Box {L}")] = (acc[L][0] / 100, acc[L][1] / 100, 0.0)
        d = (acc["A"][1] - acc["C"][1]) / 100
        out[(period, "Box D")] = (0.0, d, d)
    return out


# --------------------------------------------------------------------------
# query_mix: the driver's ten tables
# --------------------------------------------------------------------------

_DOC_WORDS = ("join hash row batch scan column customer filter small slow merge "
              "order vector line table data agg value key stream window a spark "
              "part group big sort query fast the").split()
_LANGS = ["en", "zh", "es", "de", "fr"]


def _write_table(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def query_tables(out: str, seed: int, sf: float) -> str:
    """The driver testdata's ten tables at scale factor ``sf`` (lineitem
    ~600k rows per unit of sf), one parquet file each, under ``out``. The
    eight relational tables follow ``tools/gen_tpch.py``'s domains and
    distributions from the seed's own stream; ``documents`` and
    ``embeddings`` follow the driver testdata's."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev, n_users = int(1_500_000 * sf), int(1_000_000 * sf), int(15_000 * sf)
    n_docs, n_vec = int(50_000 * sf), int(50_000 * sf)

    _write_table(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write_table(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write_table(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    _write_table(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2)})
    pk = np.arange(n_part, dtype=np.int64)
    _write_table(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0})
    odays = rng.integers(0, ORDER_DAYS, n_ord)
    _write_table(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(EPOCH_1995 + odays * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    k = rng.poisson(4.0, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), k)
    n_li = len(okey)
    _write_table(out, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(EPOCH_1995
                          + (np.repeat(odays, k) + rng.integers(1, 96, n_li)) * DAY_US)})
    ev = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write_table(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + ev),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(ETYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)]})
    # documents: 31-word vocabulary, 10-99 tokens; ~5% are a copy of
    # another document with " dup" appended (the driver data's planted dups)
    texts = [" ".join(np.array(_DOC_WORDS)[rng.integers(0, 30, int(n))])
             for n in rng.integers(10, 100, n_docs)]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        j = int(rng.integers(0, n_docs))
        if j != i:
            texts[i] = texts[j] + " dup" * int(rng.integers(1, 3))
    lang_p = np.array([0.44, 0.14, 0.14, 0.14, 0.14])
    _write_table(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_docs, p=lang_p)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vec = rng.normal(size=(n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write_table(out, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32)})
    return out


# --------------------------------------------------------------------------
# corpus_build: fuzzy corpus with planted repeats, and its stream feed
# --------------------------------------------------------------------------

_LINE_W = 10  # the engine's pseudo-line width in tokens
_STOPWORDS = {"the", "a", "and", "of", "to", "in", "is", "it", "on", "for"}
# build_corpus's stages from gopher through span_removal as their
# registered DuckDB twins: stage -> (query name, predicate on its rows)
_ORACLE_STAGES = {
    "gopher": ("pipeline_quality_gopher", "passes"),
    "classifier": ("pipeline_quality_classifier", "label = 'keep'"),
    "perplexity": ("pipeline_perplexity_buckets", "kept"),
    "exact_dedup": ("pipeline_cross_source_dedup", "true"),
    "line_dedup": ("pipeline_line_dedup", "trim(cleaned_text) <> ''"),
    "span_removal": ("pipeline_span_removal", "trim(cleaned_text) <> ''"),
}
_GATES = ("gopher", "classifier", "perplexity", "exact_dedup")
_REWRITES = ("line_dedup", "span_removal")


def _gopher_ok(toks: list[str]) -> bool:
    """The engine's Gopher rule (word count, mean word length, stopwords)."""
    n = len(toks)
    return (25 <= n <= 80 and 4.0 <= sum(map(len, toks)) / n <= 5.0
            and sum(t in _STOPWORDS for t in toks) / n >= 0.02)


def _corpus_table(texts: list[str], n_files: int) -> pa.Table:
    """The documents table, ``doc_id`` = position; ``source`` names the
    file (``shard<f>``) a document is written to."""
    per = -(-len(texts) // n_files)
    return pa.table({
        "doc_id": pa.array(np.arange(len(texts), dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(texts)),
        "source": pa.array([f"shard{i // per}" for i in range(len(texts))]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def oracle_funnel(docs: pa.Table) -> dict[str, set]:
    """The doc ids that survive each ``build_corpus`` stage from ``raw``
    through ``span_removal``, from the stages' DuckDB twins: the four gates
    over the raw input (as the build computes its perplexity and
    exact-dedup keep sets), then line dedup and span removal over the
    survivors, each rewriting the text the next stage sees."""
    import duckdb

    from vat_etl_spark.queries import ORACLE_SQL

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")

    def rows(stage: str, table: pa.Table) -> list[tuple]:
        sql, pred = _ORACLE_STAGES[stage]
        cols = "doc_id, cleaned_text" if stage in _REWRITES else "doc_id"
        con.register("documents", table)
        try:
            return con.execute(f"SELECT {cols} FROM ({ORACLE_SQL[sql]}) WHERE {pred}").fetchall()
        finally:
            con.unregister("documents")

    cur = set(docs.column("doc_id").to_pylist())
    out = {"raw": cur}
    for stage in _GATES:
        cur = out[stage] = cur & {r[0] for r in rows(stage, docs)}
    for stage in _REWRITES:
        ids = docs.column("doc_id").to_pylist()
        docs = docs.filter(pa.array([i in cur for i in ids]))
        cleaned = dict(rows(stage, docs))
        ids = docs.column("doc_id").to_pylist()
        docs = docs.filter(pa.array([i in cleaned for i in ids]))
        docs = docs.set_column(1, "text", pa.array(
            [cleaned[i] for i in docs.column("doc_id").to_pylist()], pa.string()))
        cur = out[stage] = set(cleaned)
    con.close()
    return out


def _members(rng: np.random.Generator, kind: str, t: list[str]) -> list[list[str]]:
    """A planted cluster's documents, from source tokens ``t``:

    - ``line``: the source, then its 10-token pseudo-lines from line 2 on,
      each repeating a line of the source, so C4 line dedup empties it;
    - ``span``: the source, then its tokens from offset 3, sharing no
      pseudo-line but every 5-token span, so span removal empties it;
    - ``neardup``: two shuffles of the tokens, one distinct-token set (one
      SimHash) with no shared pseudo-line or 5-token span.
    """
    if kind == "line":
        return [t, t[_LINE_W: _LINE_W * (len(t) // _LINE_W)]]
    if kind == "span":
        return [t, t[3:]]
    return [list(rng.permutation(t)) for _ in range(2)]


def _removed_at_its_stage(kind: str, ids: list[int], funnel: dict[str, set]) -> bool:
    """Whether the funnel removes a planted cluster where it should: the
    line or span copy reaches its stage and is emptied by it; both
    near-dups reach the SimHash stage."""
    if kind == "line":
        return ids[1] in funnel["exact_dedup"] and ids[1] not in funnel["line_dedup"]
    if kind == "span":
        return ids[1] in funnel["line_dedup"] and ids[1] not in funnel["span_removal"]
    return all(i in funnel["span_removal"] for i in ids)


_PLANT_KINDS = ("line", "span", "neardup")
_PLANT_SHARE = 0.05  # candidate clusters of each kind, as a share of n_docs
_COMMON_MIN = 20  # corpus count from which a token is common


def _plant(rng: np.random.Generator, texts: list[str], n_files: int) -> tuple[list, dict, dict]:
    """Append planted clusters to ``texts`` (ids after the generated ones)
    and count those the engine's funnel removes at their stage.

    The perplexity stage keeps the two less probable thirds under a bigram
    model estimated from the corpus itself. A copied bigram whose first
    word is rare becomes near certain, so copies of generated documents
    are dropped there with their source. Line and span clusters are
    therefore new documents of common tokens, whose bigram probabilities a
    second copy barely moves; near-dup clusters shuffle a generated
    document. Every planted document passes the Gopher rule and starts
    with two tokens no other document starts with, so exact dedup (keyed
    on the 2-token prefix) keeps it.

    Planting changes the model and so which documents survive; the
    funnel of the planted corpus is computed with the stages' DuckDB twins.
    A cluster that fails to reach its stage stays in as an ordinary
    document. Returns the texts, the number of clusters of each kind the
    funnel removes at their stage, and each stage's surviving ids."""
    base = list(texts)
    toks = [t.split() for t in base]
    prefixes = {tuple(t[:2]) for t in toks}
    freq: dict[str, int] = {}
    for t in toks:
        for w in t:
            freq[w] = freq.get(w, 0) + 1
    common = np.array([w for t in toks for w in t if freq[w] >= _COMMON_MIN])
    generated = iter(rng.permutation(len(toks)))

    def source(kind: str) -> list[str] | None:
        if kind == "neardup":
            src = next(generated, None)
            return None if src is None else toks[int(src)]
        return list(rng.choice(common, int(rng.integers(40, 61))))

    clusters: list[tuple[str, list[str]]] = []
    n_each = max(1, int(len(base) * _PLANT_SHARE))
    for kind in _PLANT_KINDS:
        made = 0
        while made < n_each and (t := source(kind)) is not None:
            members = _members(rng, kind, t)
            heads = {tuple(m[:2]) for m in members}
            if (40 <= len(t) <= 60 and all(map(_gopher_ok, members))
                    and len(heads) == len(members) and not heads & prefixes):
                prefixes |= heads
                clusters.append((kind, [" ".join(m) for m in members]))
                made += 1

    texts = base + [m for _, ms in clusters for m in ms]
    funnel = oracle_funnel(_corpus_table(texts, n_files))
    ok, i = [], len(base)
    for kind, ms in clusters:
        ok.append(_removed_at_its_stage(kind, list(range(i, i + len(ms))), funnel))
        i += len(ms)
    planted = {k: sum(good for (kind, _), good in zip(clusters, ok) if kind == k)
               for k in _PLANT_KINDS}
    missing = [k for k, n in planted.items() if not n]
    if missing:
        raise ValueError(f"no planted {missing} cluster reaches its stage; corpus too small")
    return texts, planted, funnel


_FEED_ID_OFFSET = 10**9  # stream feed doc ids start here, clear of the corpus
_FEED_EPOCH_IDS = 10**6  # doc ids per feed epoch


def fuzzy_corpus(out_dir: str, seed: int, n_docs: int, n_files: int = 4) -> dict:
    """Gopherable fuzzy corpus at ``out_dir/documents.parquet`` with
    planted line, span and near-dup clusters. Returns the document count,
    ``planted``: the clusters of each kind the funnel removes at their
    stage, and ``funnel``: the expected count of documents after each stage
    from ``raw`` through ``span_removal``."""
    gen_dir = os.path.join(out_dir, "_generated")
    generate(gen_dir, n_docs, seed=seed, gopherable=True, n_files=1)
    base = pq.read_table(os.path.join(gen_dir, "documents.parquet")).column("text").to_pylist()
    shutil.rmtree(gen_dir)
    texts, planted, funnel = _plant(np.random.default_rng([seed, 3]), base, n_files)
    table = _corpus_table(texts, n_files)
    out = pathlib.Path(out_dir) / "documents.parquet"
    out.mkdir(parents=True, exist_ok=True)
    per = -(-len(texts) // n_files)
    for f in range(n_files):
        pq.write_table(table.slice(f * per, per), out / f"part-{f:03d}.parquet")
    return {"docs": len(texts), "planted": planted,
            "funnel": {stage: len(ids) for stage, ids in funnel.items()}}


def stream_epoch(out_dir: str, seed: int, epoch: int, n_docs: int) -> str:
    """Epoch ``epoch`` of the stream feed: a gopherable fuzzy corpus (with
    the generator's own near-dup twins) of its own seed, as one parquet
    file with doc ids from ``_FEED_ID_OFFSET + epoch * _FEED_EPOCH_IDS``."""
    import pyarrow.compute as pc

    gen_dir = os.path.join(out_dir, f"_generated-{epoch}")
    sub_seed = int(np.random.SeedSequence([seed, 4, epoch]).generate_state(1)[0])
    generate(gen_dir, n_docs, seed=sub_seed, gopherable=True, n_files=1)
    tbl = pq.read_table(os.path.join(gen_dir, "documents.parquet"))
    shutil.rmtree(gen_dir)
    offset = _FEED_ID_OFFSET + epoch * _FEED_EPOCH_IDS
    tbl = tbl.set_column(0, "doc_id", pc.add(tbl.column("doc_id"), offset))
    path = os.path.join(out_dir, f"epoch-{epoch:03d}.parquet")
    pq.write_table(tbl, path)
    return path
