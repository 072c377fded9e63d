"""Seeded input generator for the end-to-end benchmark.

One process, plain Python + pyarrow, and no import of
``database_syncer_spark``: a change to the package's dump writer or
fixture derivation cannot change what the benchmark feeds it. Every input
is a pure function of (workload, seed, size); the expected results are
written beside the inputs, so the checks never trust the program under
test for their reference.

Outputs are cached on disk under
``<root>/<workload>-s<seed>-<size>-<generator hash>/`` and published
atomically (built in a temp dir, then renamed).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import shutil

#: Row counts per size: ``bench`` is what a benchmark run uses (sized to
#: the run budget, see README), ``tiny`` is for the benchmark's own tests.
SIZES = {
    "dump_sync": {
        "bench": {"nation": 25, "customer": 2000, "orders": 20000,
                  "lineitem": 8000},
        "tiny": {"region": 5, "nation": 25, "supplier": 20,
                 "customer": 100, "part": 100, "orders": 400,
                 "lineitem": 300},
    },
    # state rows, change rows, micro-batches
    "cdc_stream": {
        "bench": {"state": 15000, "changes": 600, "batches": 6},
        "tiny": {"state": 300, "changes": 60, "batches": 3},
    },
    # base docs, exact copies, near-dup variants, embeddings
    "curate": {
        "bench": {"docs": 400, "copies": 50, "variants": 50,
                  "vectors": 300},
        "tiny": {"docs": 120, "copies": 15, "variants": 15, "vectors": 60},
    },
}

#: Share of each table's rows changed between backup and production.
DELETE_SHARE, UPDATE_SHARE, INSERT_SHARE = 0.03, 0.04, 0.03

WORDS = ("key agg row scan slow fast table value part hash merge batch "
         "spark line sort window join small order data column query "
         "customer stream filter group big vector").split()
STOPWORDS = ("the", "a", "of", "and", "to", "in")
#: Words carrying characters the dump tokenizer must unescape.
ODD_WORDS = ("o'brien", "back\\slash", "it's", "\"quoted\"")

_EPOCH = dt.date(1992, 1, 1)


# --- shared helpers ---------------------------------------------------------

def digest_lines(lines) -> str:
    """Order-independent digest of an iterable of strings."""
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def row_key(values) -> str:
    """Canonical text of one row for digests: ``repr`` of each value, so
    ints, floats, strings and dates compare exactly across readers."""
    return "\x1f".join(repr(v) for v in values)


def _words(rng: random.Random, lo: int, hi: int, odd: float = 0.0) -> str:
    out = []
    for _ in range(rng.randint(lo, hi)):
        out.append(rng.choice(ODD_WORDS) if rng.random() < odd
                   else rng.choice(WORDS))
    return " ".join(out)


# --- dump_sync: a mysqldump pair --------------------------------------------

def _cents(rng: random.Random, lo: int, hi: int) -> str:
    c = rng.randint(lo * 100, hi * 100)
    return f"{c // 100}.{c % 100:02d}"


def _date(rng: random.Random) -> str:
    return (_EPOCH + dt.timedelta(days=rng.randint(0, 2400))).isoformat()


#: table -> (pk columns, [(column, mysql type, kind)]). PK columns come
#: first so the check can read a statement's key from its VALUES prefix.
#: kind: i = integer, d = decimal, s = string, t = date.
TABLES = {
    "region": (["r_regionkey"], [
        ("r_regionkey", "int", "i"), ("r_name", "varchar(25)", "s"),
        ("r_comment", "varchar(152)", "s")]),
    "nation": (["n_nationkey"], [
        ("n_nationkey", "int", "i"), ("n_name", "varchar(25)", "s"),
        ("n_regionkey", "int", "i"), ("n_comment", "varchar(152)", "s")]),
    "supplier": (["s_suppkey"], [
        ("s_suppkey", "bigint", "i"), ("s_name", "varchar(25)", "s"),
        ("s_nationkey", "int", "i"), ("s_phone", "varchar(15)", "s"),
        ("s_acctbal", "decimal(15,2)", "d"),
        ("s_comment", "varchar(101)", "s")]),
    "customer": (["c_custkey"], [
        ("c_custkey", "bigint", "i"), ("c_name", "varchar(25)", "s"),
        ("c_nationkey", "int", "i"), ("c_acctbal", "decimal(15,2)", "d"),
        ("c_mktsegment", "varchar(10)", "s"),
        ("c_comment", "varchar(117)", "s")]),
    "part": (["p_partkey"], [
        ("p_partkey", "bigint", "i"), ("p_name", "varchar(55)", "s"),
        ("p_brand", "varchar(10)", "s"), ("p_size", "int", "i"),
        ("p_retailprice", "decimal(15,2)", "d"),
        ("p_comment", "varchar(23)", "s")]),
    "orders": (["o_orderkey"], [
        ("o_orderkey", "bigint", "i"), ("o_custkey", "bigint", "i"),
        ("o_orderstatus", "char(1)", "s"),
        ("o_totalprice", "decimal(15,2)", "d"), ("o_orderdate", "date", "t"),
        ("o_orderpriority", "varchar(15)", "s"),
        ("o_comment", "varchar(79)", "s")]),
    "lineitem": (["l_orderkey", "l_linenumber"], [
        ("l_orderkey", "bigint", "i"), ("l_linenumber", "int", "i"),
        ("l_partkey", "bigint", "i"), ("l_quantity", "decimal(15,2)", "d"),
        ("l_extendedprice", "decimal(15,2)", "d"),
        ("l_returnflag", "char(1)", "s"), ("l_shipdate", "date", "t"),
        ("l_comment", "varchar(44)", "s")]),
    # exists only in production: the script must CREATE it
    "promo": (["promo_id"], [
        ("promo_id", "int", "i"), ("code", "varchar(16)", "s"),
        ("pct", "decimal(5,2)", "d")]),
    # exists only in the backup: the script must DROP it
    "legacy_audit": (["audit_id"], [
        ("audit_id", "bigint", "i"), ("note", "varchar(64)", "s")]),
}


def _gen_value(rng: random.Random, col: str, kind: str, n: dict) -> object:
    if kind == "i":
        if col.endswith("nationkey"):
            return rng.randint(0, 24)
        if col.endswith("regionkey"):
            return rng.randint(0, 4)
        if col == "o_custkey":
            return rng.randint(1, max(1, n.get("customer", 1)))
        if col == "l_partkey":
            return rng.randint(1, max(1, n.get("part", 1)))
        return rng.randint(1, 50)
    if kind == "d":
        return _cents(rng, 1, 99999)
    if kind == "t":
        return _date(rng)
    if col in ("o_orderstatus", "l_returnflag"):
        return rng.choice("FOPRAN")
    if col.endswith("comment") or col == "note":
        return _words(rng, 2, 8, odd=0.05)
    return f"{col.split('_')[-1]}#{rng.randint(0, 99999):05d}"


def _row(rng: random.Random, table: str, key: tuple, n: dict) -> list:
    pk, cols = TABLES[table]
    return list(key) + [_gen_value(rng, c, k, n)
                        for c, _, k in cols[len(pk):]]


def _keys(rng: random.Random, table: str, count: int, first: int) -> list:
    """``count`` primary keys from ``first`` on; lineitem keys are
    (order, line) with 1-7 lines per order."""
    if table != "lineitem":
        return [(k,) for k in range(first, first + count)]
    keys, okey = [], first
    while len(keys) < count:
        keys.extend((okey, line) for line in range(1, rng.randint(1, 7) + 1))
        okey += 1
    return keys[:count]


def _table_rows(rng: random.Random, table: str, count: int,
                n: dict) -> dict[tuple, list]:
    first = 0 if table in ("region", "nation") else 1
    return {k: _row(rng, table, k, n) for k in _keys(rng, table, count, first)}


def _mutate(rng: random.Random, table: str, row: list) -> list:
    """A copy of ``row`` with one non-PK value changed so that it differs
    after typing (the diff compares typed values)."""
    pk, cols = TABLES[table]
    new = list(row)
    i = rng.randrange(len(pk), len(cols))
    kind = cols[i][2]
    if kind == "i":
        new[i] = row[i] + 1
    elif kind == "d":
        whole, frac = row[i].split(".")
        new[i] = f"{int(whole) + 1}.{frac}"
    elif kind == "t":
        new[i] = (dt.date.fromisoformat(row[i])
                  + dt.timedelta(days=1)).isoformat()
    else:
        new[i] = row[i][:-1] if len(row[i]) > 3 else row[i] + "x"
    return new


def _sql_value(v, kind: str) -> str:
    if kind == "i":
        return str(v)
    if kind == "d":
        return v
    s = str(v).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


def create_statement(table: str) -> str:
    pk, cols = TABLES[table]
    defs = [f"  `{c}` {t} {'NOT NULL' if c in pk else 'DEFAULT NULL'}"
            for c, t, _ in cols]
    defs.append(f"  PRIMARY KEY ({', '.join(f'`{c}`' for c in pk)})")
    return (f"CREATE TABLE `{table}` (\n" + ",\n".join(defs)
            + "\n) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;")


def _write_dump(path: str, tables: dict[str, dict[tuple, list]],
                per_insert: int = 500) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("-- generated mysqldump\n/*!40101 SET NAMES utf8mb4 */;\n\n")
        for table, rows in tables.items():
            kinds = [k for _, _, k in TABLES[table][1]]
            fh.write(f"DROP TABLE IF EXISTS `{table}`;\n")
            fh.write(create_statement(table) + "\n\n")
            vals = list(rows.values())
            for i in range(0, len(vals), per_insert):
                tuples = ",".join(
                    "(" + ",".join(_sql_value(v, k) for v, k in zip(r, kinds))
                    + ")" for r in vals[i:i + per_insert])
                fh.write(f"INSERT INTO `{table}` VALUES {tuples};\n")
            fh.write("\n")


def _gen_dump_sync(rng: random.Random, spec: dict, out: str) -> dict:
    backup: dict[str, dict[tuple, list]] = {}
    prod: dict[str, dict[tuple, list]] = {}
    planted: dict[str, dict[str, list[str]]] = {}
    for table, count in spec.items():
        rows = _table_rows(rng, table, count, spec)
        keys = list(rows)
        n_del = max(1, round(count * DELETE_SHARE))
        n_upd = max(1, round(count * UPDATE_SHARE))
        n_ins = max(1, round(count * INSERT_SHARE))
        picked = rng.sample(keys, n_del + n_upd)
        deleted, updated = picked[:n_del], picked[n_del:]
        ins_rows = {k: _row(rng, table, k, spec)
                    for k in _keys(rng, table, n_ins, keys[-1][0] + 1)}
        p = dict(rows)
        for k in deleted:
            del p[k]
        for k in updated:
            p[k] = _mutate(rng, table, rows[k])
        p.update(ins_rows)
        backup[table], prod[table] = rows, p
        planted[table] = {t: ks for t, ks in (
            ("DELETE", deleted), ("UPDATE", updated),
            ("INSERT", list(ins_rows)))}
    prod["promo"] = _table_rows(rng, "promo", 50, spec)
    backup["legacy_audit"] = _table_rows(rng, "legacy_audit", 50, spec)
    _write_dump(os.path.join(out, "prod.sql"), prod)
    _write_dump(os.path.join(out, "backup.sql"), backup)
    def key(k: tuple) -> str:
        return ",".join(map(str, k))

    # "rows": the production row each UPDATE and INSERT must carry, as
    # unescaped values; "kinds": each column's kind (see TABLES)
    return {
        "tables": {t: {"pk": TABLES[t][0],
                       "kinds": [k for _, _, k in TABLES[t][1]],
                       "counts": {k: len(v) for k, v in ch.items()},
                       "keys": {k: sorted(map(key, v))
                                for k, v in ch.items()},
                       "rows": {k: {key(r): prod[t][r] for r in ch[k]}
                                for k in ("UPDATE", "INSERT")}}
                   for t, ch in planted.items()},
        "create": ["promo"], "drop": ["legacy_audit"],
        "rows": {"prod": sum(map(len, prod.values())),
                 "backup": sum(map(len, backup.values()))},
    }


# --- cdc_stream: initial state + a change log ------------------------------

STATE_COLUMNS = [("o_orderkey", "int64"), ("o_custkey", "int64"),
                 ("o_orderstatus", "string"), ("o_totalprice", "float64"),
                 ("o_orderdate", "date32"), ("o_comment", "string")]


def _state_row(rng: random.Random, key: int) -> tuple:
    return (key, rng.randint(1, 1500), rng.choice("FOP"),
            rng.randint(100, 5_000_000) / 100.0,
            _EPOCH + dt.timedelta(days=rng.randint(0, 2400)),
            _words(rng, 2, 8))


def _gen_cdc_stream(rng: random.Random, spec: dict, out: str) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    n, n_ch = spec["state"], spec["changes"]
    state = {k: _state_row(rng, k) for k in range(1, n + 1)}
    n_del = n_ch * 3 // 10
    n_upd = n_ch * 4 // 10
    n_ins = n_ch - n_del - n_upd
    picked = rng.sample(range(1, n + 1), n_del + n_upd)
    changes = []
    for k in picked[:n_del]:
        changes.append(state[k] + ("DELETE",))
    for k in picked[n_del:]:
        changes.append(_state_row(rng, k) + ("UPDATE",))
    for k in range(n + 1, n + 1 + n_ins):
        changes.append(_state_row(rng, k) + ("INSERT",))
    rng.shuffle(changes)

    final = dict(state)
    for ch in changes:
        if ch[-1] == "DELETE":
            del final[ch[0]]
        else:
            final[ch[0]] = ch[:-1]

    def table(rows, extra=()):
        cols = list(zip(*rows)) if rows else [[] for _ in range(6 + len(extra))]
        fields = [pa.field(c, getattr(pa, t)()) for c, t in STATE_COLUMNS]
        fields += [pa.field(c, pa.string()) for c in extra]
        return pa.Table.from_arrays(
            [pa.array(list(v), type=f.type) for v, f in zip(cols, fields)],
            schema=pa.schema(fields))

    pq.write_table(table(list(state.values())),
                   os.path.join(out, "state.parquet"))
    pq.write_table(table(changes, ("change_type",)),
                   os.path.join(out, "changes.parquet"))
    return {"pk": ["o_orderkey"], "batches": spec["batches"],
            "changes": {"DELETE": n_del, "UPDATE": n_upd, "INSERT": n_ins},
            "final_rows": len(final),
            "final_digest": digest_lines(row_key(r) for r in final.values())}


# --- curate: documents + embeddings -----------------------------------------

def _doc_text(rng: random.Random) -> str:
    """Random words ending in a repeated three-word cycle (``u v w u v
    w``); appending another cycle leaves the doc's word-3-shingle set
    unchanged (see ``_variant``)."""
    words = [rng.choice(STOPWORDS) if rng.random() < 0.08
             else rng.choice(WORDS) for _ in range(rng.randint(30, 90))]
    return " ".join(words + rng.sample(WORDS, 3) * 2)


def _variant(rng: random.Random, text: str) -> str:
    """A near copy: the text with one or two more tail cycles. The text
    differs, so exact dedup keeps both, but the shingle set is the same
    (Jaccard 1): minhash LSH (16 hashes in 4 bands) has recall below 1
    for any lower similarity, and the registry oracle it is checked
    against is exact."""
    tail = " " + " ".join(text.split(" ")[-3:])
    return text + tail * rng.randint(1, 2)


def _unit(v: list[float]) -> list[float]:
    n = sum(x * x for x in v) ** 0.5
    return [x / n for x in v]


def _embeddings(rng: random.Random, count: int, dim: int = 64) -> list:
    """Clustered unit vectors with no pair near the 0.5 cosine threshold:
    cluster centres are rejection-sampled to |cos| < 0.3 of each other
    and members sit within ~0.99 cosine of their centre, so the LSH
    blocking's recall is total and the exhaustive oracle is exact."""
    centres: list[list[float]] = []
    rows = []
    vec_id = 0
    while vec_id < count:
        while True:
            c = _unit([rng.gauss(0, 1) for _ in range(dim)])
            if all(abs(sum(a * b for a, b in zip(c, o))) < 0.3
                   for o in centres[-400:]):
                break
        centres.append(c)
        size = 1 if rng.random() < 0.4 else rng.randint(2, 5)
        for _ in range(min(size, count - vec_id)):
            v = _unit([x + rng.gauss(0, 0.02) for x in c])
            rows.append((vec_id, [float(x) for x in v], len(centres) % 10))
            vec_id += 1
    return rows


def _gen_curate(rng: random.Random, spec: dict, out: str) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = [_doc_text(rng) for _ in range(spec["docs"])]
    base = len(texts)
    family = list(range(base))
    for n in ("copies", "variants"):
        for _ in range(spec[n]):
            src = rng.randrange(base)
            texts.append(texts[src] if n == "copies"
                         else _variant(rng, texts[src]))
            family.append(src)
    # corpus_curate plants an email in docs with doc_id % 20 == 3 (which
    # changes their shingles), so only docs without copies or variants
    # take those ids: every near-dup pair stays shingle-identical.
    sizes: dict[int, int] = {}
    for f in family:
        sizes[f] = sizes.get(f, 0) + 1
    single = [i for i, f in enumerate(family) if sizes[f] == 1]
    rng.shuffle(single)
    planted_ids = range(3, len(texts), 20)
    order = [None] * len(texts)
    for doc_id in planted_ids:
        order[doc_id] = single.pop()
    taken = set(order) - {None}
    rest = [i for i in range(len(texts)) if i not in taken]
    rng.shuffle(rest)
    for doc_id in range(len(texts)):
        if order[doc_id] is None:
            order[doc_id] = rest.pop()
    texts = [texts[i] for i in order]
    langs = ("en", "de", "fr", "es", "zh")
    docs = pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([langs[i % 5] for i in range(len(texts))]),
        "source": pa.array([f"src{i % 20}" for i in range(len(texts))]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = _embeddings(rng, spec["vectors"])
    vecs = pa.table({
        "vec_id": pa.array([r[0] for r in emb], pa.int64()),
        "embedding": pa.array([r[1] for r in emb], pa.list_(pa.float32())),
        "label": pa.array([r[2] for r in emb], pa.int32()),
    })
    pq.write_table(docs, os.path.join(out, "documents.parquet"))
    pq.write_table(vecs, os.path.join(out, "embeddings.parquet"))
    return {"docs": len(texts), "vectors": len(emb),
            "planted": {k: spec[k] for k in ("copies", "variants")}}


_GENERATORS = {"dump_sync": _gen_dump_sync, "cdc_stream": _gen_cdc_stream,
               "curate": _gen_curate}


def generate(workload: str, seed: int, size: str, root: str) -> str:
    """Return the input directory for (workload, seed, size), generating
    it on first use. ``expected.json`` inside holds the planted results."""
    spec = SIZES[workload][size]
    # the generator's own source is part of the key: an edited generator
    # never reuses inputs an older one wrote
    with open(__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:8]
    path = os.path.join(root, f"{workload}-s{seed}-{size}-{version}")
    if os.path.exists(os.path.join(path, "expected.json")):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # str seeds hash stably (random.seed uses sha512 for str)
    rng = random.Random(f"{workload}:{seed}:{size}")
    expected = _GENERATORS[workload](rng, spec, tmp)
    expected.update(workload=workload, seed=seed, size=size)
    with open(os.path.join(tmp, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path
