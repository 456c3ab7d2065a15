"""Seeded generator of a reference-shaped CDC CSV corpus.

Each file is one CDC dump named ``yyyymmdd-HHMMSSmmm.csv`` (names sort in
delivery order, which the incremental watermark relies on) with the
six-column header ``Op,oid__id,createdAt,updatedAt,lastSyncTracker,
array_trackingEvents``. The shape follows the measured corpus statistics
in BASELINE.md and the edge cases of FIXTURES.md section A.1:

- about 400 documents per file;
- 9.4 events per document on average (median 9, max 88), 0.5% ``[]``;
- 0.9% ``I`` ops, the rest ``U``;
- about 12% of rows re-deliver a key from an earlier file, some keys
  repeat inside one DAG batch, and one hot key owns about 1% of rows
  (the tools/make_etl_10x.py convention);
- ``status`` values ``None`` and ``'01'``, unicode descriptions and the
  ``\\t`` escape.

Every value stays inside the assumptions the DuckDB replay oracle states
(EtlQueries.eventsReplaySql): no double quote, no ``None`` inside a
string, ``\\t`` as the only backslash escape. The same seed always gives
byte-identical files.

Usage: python3 perfbench/cdc_corpus.py <out_dir> <seed> <n_files>
"""
import bisect
import json
import math
import os
import random
import sys
import time

HEADER = "Op,oid__id,createdAt,updatedAt,lastSyncTracker,array_trackingEvents\n"
HOT_OID = "deadbeef" * 3
DOCS_PER_FILE = (380, 420)
HOT_SHARE = 0.01
REDELIVER_SHARE = 0.12
IN_BATCH_SHARE = 0.02
INSERT_SHARE = 0.009
EMPTY_SHARE = 0.005
TAIL_SHARE = 0.02
MAX_EVENTS = 88

DESCRIPTIONS = [
    "Objeto postado",
    "Objeto em trânsito - por favor aguarde",
    "Encaminhado para fiscalização aduaneira",
    "Objeto saiu para entrega ao destinatário",
    "Objeto entregue ao destinatário",
    "Objeto aguardando retirada no endereço indicado",
    "EMISSAO",
    "Fiscalização aduaneira finalizada",
    "Pagamento confirmado",
    "Objeto recebido na unidade de exportação no país de origem",
    "Saída cancelada",
    "Objeto não entregue - endereço incorreto",
    "Devolução autorizada pelo remetente",
    "Informações eletrônicas enviadas para análise",
    "Objeto\\tem rota",
]
STATUSES = ["01", "02", "03", "09", "10", "12", "19", "21", "23", "24",
            "28", "33", "35", "37", "40", "85"]


def _hex(rng, n):
    return "%0*x" % (n, rng.getrandbits(4 * n))


def _poisson_table(lam, cap):
    """Cumulative Poisson(lam) probabilities for k = 0..cap."""
    cum, p, acc = [], math.exp(-lam), 0.0
    for k in range(cap + 1):
        acc += p
        cum.append(acc)
        p *= lam / (k + 1)
    return cum


def _event_count(rng, cum):
    if rng.random() < TAIL_SHARE:
        return rng.randint(20, MAX_EVENTS)
    return 1 + min(bisect.bisect_left(cum, rng.random()), len(cum) - 1)


def _events(rng, n, created, updated, code, pools):
    if n == 0:
        return "[]"
    parts = []
    span = max(1, updated - created)
    for _ in range(n):
        ms = (created + rng.randrange(span)) * 1000 + rng.randrange(1000)
        status = "None" if rng.random() < 0.06 else "'%s'" % rng.choice(STATUSES)
        parts.append(
            "{'createdAt': {'$date': %d}, 'trackingCode': '%s', "
            "'status': %s, 'description': '%s', 'trackerType': '%s', "
            "'from': '%s', 'to': '%s'}" % (
                ms, code, status, rng.choice(DESCRIPTIONS),
                rng.choice(pools["tracker"]), rng.choice(pools["place"]),
                rng.choice(pools["place"])))
    return "[" + ", ".join(parts) + "]"


def generate(out_dir, seed, n_files):
    """Write ``n_files`` CSV files into ``out_dir``; return the sorted
    file names and corpus statistics."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    pools = {"tracker": [_hex(rng, 32) for _ in range(6)],
             "place": [_hex(rng, 32) for _ in range(40)]}
    codes = [_hex(rng, 32) for _ in range(4000)]
    cum = _poisson_table(7.5, MAX_EVENTS)
    seen = []            # keys delivered by earlier files
    prev_file = []       # keys of the previous file
    last_update = {}
    code_of = {}
    t_file = 1693785600_000 + rng.randrange(3_600_000)  # 2023-09-04
    names, rows, events, empties, inserts, hot = [], 0, 0, 0, 0, 0
    for fi in range(n_files):
        t_file += 60_000 + rng.randrange(600_000)
        secs, ms = divmod(t_file, 1000)
        st = time.gmtime(secs)
        name = "%04d%02d%02d-%02d%02d%02d%03d.csv" % (
            st.tm_year, st.tm_mon, st.tm_mday, st.tm_hour, st.tm_min,
            st.tm_sec, ms)
        names.append(name)
        lines = [HEADER]
        this_file = []
        for di in range(rng.randint(*DOCS_PER_FILE)):
            r = rng.random()
            if r < HOT_SHARE:
                oid = HOT_OID
                hot += 1
            elif r < HOT_SHARE + REDELIVER_SHARE and seen:
                oid = rng.choice(seen)
            elif r < HOT_SHARE + REDELIVER_SHARE + IN_BATCH_SHARE and (
                    prev_file or this_file):
                oid = rng.choice(prev_file + this_file)
            else:
                oid = _hex(rng, 24)
            this_file.append(oid)
            prev = last_update.get(oid)
            created = (prev[0] if prev else
                       1685638943 + rng.randrange(8_100_000))
            updated = max(created + rng.randrange(1, 400_000),
                          (prev[1] + 1) if prev else 0)
            last_update[oid] = (created, updated)
            op = "I" if rng.random() < INSERT_SHARE else "U"
            inserts += op == "I"
            if fi == 0 and di == 0:
                n = MAX_EVENTS
            elif rng.random() < EMPTY_SHARE:
                n = 0
            else:
                n = _event_count(rng, cum)
            empties += n == 0
            events += max(n, 1)
            code = code_of.setdefault(oid, rng.choice(codes))
            arr = _events(rng, n, created, updated, code, pools)
            lines.append('%s,%s,%d,%d,%d,%s\n' % (
                op, oid, created, updated, updated,
                arr if n == 0 else '"' + arr + '"'))
        rows += len(this_file)
        with open(os.path.join(out_dir, name), "w", encoding="utf-8",
                  newline="") as f:
            f.write("".join(lines))
        prev_file = this_file
        seen.extend(k for k in this_file if k != HOT_OID)
    return names, {"files": n_files, "rows": rows, "event_rows": events,
                   "empty_arrays": empties, "insert_ops": inserts,
                   "hot_rows": hot,
                   "distinct_keys": len(last_update)}


if __name__ == "__main__":
    out, seed, n = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
    names, stats = generate(out, seed, n)
    print(json.dumps(stats))
