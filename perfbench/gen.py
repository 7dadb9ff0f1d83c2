"""Seeded input generator for the benchmark workloads.

Every input the engine sees is made here from `--seed`; the same seed gives
byte-identical inputs. Nothing is read from outside the output directory.

  star   the TPC-H-ish star schema + `events`, in the column domains of the
         repository's sf0.01 fixture (same schemas, value ranges and
         decimal precision, so the DuckDB oracles stay exact).
  corpus `documents` over the fixture's 31-word vocabulary with planted
         exact duplicates, near-duplicates (a few words substituted) and
         the shared line chunks those produce; the plant list is written
         beside it as ground truth for the recall checks.
  stream the open-loop event schedule: due offset, event time (compressed
         so windows close within a run), skewed user key, the reference's
         late-event shape (every 10th event 1-10 s late), and a document
         text with planted repeats for the bounded dedup query.
"""
import json
import os
import random

import duckdb
import pyarrow as pa

VOCAB = ("row the query stream fast spark line small customer group value hash "
         "batch sort data big filter dup key agg scan slow table part a merge "
         "window order column join vector").split()

STAR_ROWS = dict(customer=1500, supplier=100, part=2000, orders=15000, events=10000)


def _u(seed, salt, idx="i"):
    """Uniform [0, 1) that depends only on (seed, salt, row index)."""
    return f"((hash({idx}, {seed}, {salt}) % 1000003) / 1000003.0)"


def gen_star(out, seed):
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    u = lambda salt, idx="i": _u(seed, salt, idx)
    n = STAR_ROWS
    segs = "['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']"
    adjs = "['small','red','blue','hot','old','large','cold','green']"
    nouns = "['ring','widget','bolt','gear','gizmo','nut','valve','spring']"
    types = "['ECONOMY','STANDARD','LARGE','SMALL','MEDIUM','PROMO']"
    prio = "['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW']"
    etypes = "['click','signup','error','view','purchase']"
    tables = {
        "region": "SELECT CAST(i AS INTEGER) r_regionkey, "
                  "['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] r_name "
                  "FROM range(5) t(i)",
        "nation": "SELECT CAST(i AS INTEGER) n_nationkey, 'NATION_' || i n_name, "
                  "CAST(i % 5 AS INTEGER) n_regionkey FROM range(25) t(i)",
        "customer": f"SELECT i c_custkey, printf('Customer#%09d', i) c_name, "
                    f"CAST(floor({u(1)} * 25) AS INTEGER) c_nationkey, "
                    f"round(-999.99 + {u(2)} * 10998.0, 2) c_acctbal, "
                    f"{segs}[CAST(floor({u(3)} * 5) AS INTEGER) + 1] c_mktsegment "
                    f"FROM range({n['customer']}) t(i)",
        "supplier": f"SELECT i s_suppkey, printf('Supplier#%09d', i) s_name, "
                    f"CAST(floor({u(4)} * 25) AS INTEGER) s_nationkey, "
                    f"round(-999.99 + {u(5)} * 10998.0, 2) s_acctbal "
                    f"FROM range({n['supplier']}) t(i)",
        "part": f"SELECT i p_partkey, "
                f"{adjs}[CAST(floor({u(6)} * 8) AS INTEGER) + 1] || ' ' || "
                f"{nouns}[CAST(floor({u(7)} * 8) AS INTEGER) + 1] p_name, "
                f"'Brand#' || CAST(floor({u(8)} * 25) AS INTEGER) p_brand, "
                f"{types}[CAST(floor({u(9)} * 6) AS INTEGER) + 1] p_type, "
                f"CAST(1 + floor({u(10)} * 50) AS INTEGER) p_size, "
                f"round(CAST(900.0 + (i % 1000) * 0.1 AS DOUBLE), 2) p_retailprice "
                f"FROM range({n['part']}) t(i)",
        "orders": f"SELECT i o_orderkey, CAST(floor({u(11)} * {n['customer']}) AS BIGINT) o_custkey, "
                  f"['O','F','P'][CAST(floor({u(12)} * 3) AS INTEGER) + 1] o_orderstatus, "
                  f"round(1000.0 + {u(13)} * 499000.0, 2) o_totalprice, "
                  f"TIMESTAMP '1995-01-01' + to_days(CAST(floor({u(14)} * 2404) AS INTEGER)) o_orderdate, "
                  f"{prio}[CAST(floor({u(15)} * 5) AS INTEGER) + 1] o_orderpriority "
                  f"FROM range({n['orders']}) t(i)",
        # 1-7 lines per order, ~4 on average: ~60k rows like sf0.01
        "lineitem": f"SELECT o i_order, CAST(o AS BIGINT) l_orderkey, "
                    f"CAST(floor({u(16, 'o * 8 + l')} * {n['part']}) AS BIGINT) l_partkey, "
                    f"CAST(floor({u(17, 'o * 8 + l')} * {n['supplier']}) AS BIGINT) l_suppkey, "
                    f"CAST(l AS INTEGER) l_linenumber, "
                    f"CAST(1 + floor({u(18, 'o * 8 + l')} * 50) AS DOUBLE) l_quantity, "
                    f"round(900.0 + {u(19, 'o * 8 + l')} * 104000.0, 2) l_extendedprice, "
                    f"floor({u(20, 'o * 8 + l')} * 11) / 100.0 l_discount, "
                    f"floor({u(21, 'o * 8 + l')} * 9) / 100.0 l_tax, "
                    f"['A','N','R'][CAST(floor({u(22, 'o * 8 + l')} * 3) AS INTEGER) + 1] l_returnflag, "
                    f"['O','F'][CAST(floor({u(23, 'o * 8 + l')} * 2) AS INTEGER) + 1] l_linestatus, "
                    f"TIMESTAMP '1995-01-02' + to_days(CAST(floor({u(24, 'o * 8 + l')} * 2498) AS INTEGER)) l_shipdate "
                    f"FROM range({n['orders']}) a(o), range(1, 8) b(l) "
                    f"WHERE l <= 1 + floor({u(25, 'o')} * 7)",
        "events": f"SELECT i event_id, "
                  f"TIMESTAMP '2024-01-01' + to_microseconds(CAST(floor({u(26)} * 2592000000000) AS BIGINT)) AS ts, "
                  f"CAST(floor(pow({u(27)}, 2) * 150) AS BIGINT) user_id, "
                  f"{etypes}[CAST(floor({u(28)} * 5) AS INTEGER) + 1] event_type, "
                  f"round(0.01 + {u(29)} * 490.0, 2) AS value, "
                  f"'{{\"k\": ' || CAST(floor({u(30)} * 100) AS INTEGER) || '}}' props "
                  f"FROM range({n['events']}) t(i)",
    }
    for name, sql in tables.items():
        if name == "lineitem":
            sql = f"SELECT * EXCLUDE (i_order) FROM ({sql}) ORDER BY l_orderkey, l_linenumber"
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT PARQUET)")
    con.close()


def _doc(rng, n_words):
    return [rng.choice(VOCAB) for _ in range(n_words)]


def gen_corpus(out, seed, n_docs):
    """`n_docs` documents: ~70% unique, the rest planted copies of a base.

    Each family is a base plus 1-3 copies; a copy is exact (1 in 3) or has
    1-4% of its words substituted, which keeps word-3-gram Jaccard around
    0.8-0.95 and shares whole 12-token lines with the base. Families are
    spread over the id range so both parities (the incremental keys'
    arrival split) see duplicates of each other.
    """
    os.makedirs(out, exist_ok=True)
    rng = random.Random(seed)
    texts, families = [], []
    while len(texts) < n_docs:
        base = _doc(rng, rng.randint(40, 120))
        texts.append(base)
        if rng.random() < 0.15:
            fam = [len(texts) - 1]
            for _ in range(rng.randint(1, 3)):
                copy = list(base)
                if rng.random() >= 1 / 3:
                    for _ in range(max(1, int(len(copy) * rng.uniform(0.01, 0.04)))):
                        copy[rng.randrange(len(copy))] = rng.choice(VOCAB)
                texts.append(copy)
                fam.append(len(texts) - 1)
            families.append(fam)
    texts = texts[:n_docs]
    families = [[d for d in f if d < n_docs] for f in families]
    families = [f for f in families if len(f) > 1]
    # shuffle ids so copies are not adjacent to their base
    perm = list(range(n_docs))
    rng.shuffle(perm)
    rows = [(perm[i], " ".join(t)) for i, t in enumerate(texts)]
    langs, sources = ["en", "zh", "de", "fr", "es"], [f"src{k}" for k in range(20)]
    rows.sort()
    d = pa.table({
        "doc_id": pa.array([i for i, _ in rows], pa.int64()),
        "text": [t for _, t in rows],
        "lang": [langs[rng.randrange(5)] for _ in rows],
        "source": [sources[rng.randrange(20)] for _ in rows],
        "n_chars": pa.array([len(t) for _, t in rows], pa.int64()),
    })
    con = duckdb.connect()
    con.execute(f"COPY (SELECT * FROM d) TO '{out}/documents.parquet' (FORMAT PARQUET)")
    con.close()
    with open(f"{out}/plants.json", "w") as f:
        json.dump({"families": [sorted(perm[d] for d in fam) for fam in families]}, f)


def stream_schedule(seed, rate, open_seconds, warm, burst, bursts):
    """The event schedule as a list of tuples
    (idx, phase, due_ms, event_ms, user, value, doc).

    phase 0: `warm` warm-up events (offered at once, during set-up);
    phase 1: open loop at `rate` events/s for `open_seconds`; `due_ms` is
             the offset from the generator's start at which the event is due;
    phase 2..: `bursts` bursts of `burst` events, each offered all at once.
    Event time advances 100 ms per event on average (so 10 s windows close
    within a run); every 10th event is 1-10 s late, the reference's shape
    (CassandraPojoSinkStreaming.java:54-56,129-135). Users are Pareto-skewed.
    One document in five repeats one of the 20 latest originals, and no two
    originals share a word set (the dedup fingerprint), so every duplicate
    lies well inside the dedup horizon.
    """
    rng = random.Random(seed)
    n_open = int(rate * open_seconds)
    phases = [0] * warm + [1] * n_open + [p for b in range(bursts) for p in [2 + b] * burst]
    rows, originals, seen = [], [], set()
    t_event = 0
    for i, phase in enumerate(phases):
        due = int((i - warm) * 1000 / rate) if phase == 1 else -1
        t_event += rng.randint(50, 150)
        late = rng.randint(1, 10) * 1000 if i % 10 == 0 else 0
        user = "u%d" % (int(rng.paretovariate(1.2)) % 200)
        if originals and rng.random() < 0.2:
            doc = originals[-rng.randint(1, min(len(originals), 20))]
        else:
            while True:   # originals never share a fingerprint (word set)
                words = _doc(rng, rng.randint(8, 24))
                if frozenset(words) not in seen:
                    break
            seen.add(frozenset(words))
            doc = " ".join(words)
            originals.append(doc)
        rows.append((i, phase, due, t_event - late, user, rng.randint(1, 1000), doc))
    return rows


def gen_stream(out, seed, **kw):
    os.makedirs(out, exist_ok=True)
    with open(f"{out}/schedule.tsv", "w") as f:
        f.writelines("\t".join(map(str, r)) + "\n" for r in stream_schedule(seed, **kw))
