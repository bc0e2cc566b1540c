"""In-memory model of the table_dml operation sequence.

Replays the generator's steps per format, with each format's own
operation set, and checks every read result and every final snapshot the
program returned.  A format that lacks an operation skips it, in the
model exactly as in the run (the manifest's ``supports`` table).
"""
import pyarrow.parquet as pq


def _rows(path):
    t = pq.read_table(path).to_pydict()
    ops = t.get("op", [None] * len(t["id"]))
    return list(zip(t["id"], t["date"], t["amount"], t["qty"], t["ver"], ops))


class Table:
    """id -> (date, amount, qty, ver), plus running sums for snapshots."""

    def __init__(self, rows):
        self.rows = {r[0]: r[1:5] for r in rows}

    def put(self, k, date, amount, qty, ver):
        self.rows[k] = (date, amount, qty, ver)

    def digest(self):
        return (len(self.rows), sum(v[3] for v in self.rows.values()))

    def final(self):
        vs = self.rows.values()
        return {"count": len(self.rows), "sum_id": sum(self.rows),
                "sum_ver": sum(v[3] for v in vs), "sum_qty": sum(v[2] for v in vs),
                "sum_cents": sum(int(round(v[1] * 100)) for v in vs)}


def apply_write(t, w, inputs):
    kind = w["kind"]
    if kind == "upsert":
        for k, d, a, q, v, _ in _rows(f"{inputs}/{w['batch']}"):
            t.put(k, d, a, q, v)
    elif kind == "merge":
        for k, d, a, q, v, op in _rows(f"{inputs}/{w['batch']}"):
            if k in t.rows:
                if op == "D":
                    del t.rows[k]
                else:
                    t.put(k, t.rows[k][0], a, q, v)
            elif op != "D":
                t.put(k, d, a, q, v)
    elif kind == "delete":
        for k in [k for k, r in t.rows.items()
                  if r[0] == w["date"] and r[2] < w["qty_below"]]:
            del t.rows[k]


def expect_read(t, r, history):
    kind = r["kind"]
    if kind == "range":
        return {"count": sum(1 for d, a, _, _ in t.rows.values()
                             if r["date_from"] <= d <= r["date_to"] and a > r["amount_above"])}
    if kind == "point":
        row = t.rows.get(r["id"])
        return {"rows": [] if row is None else [[row[1], row[2], row[3]]]}
    count, sum_ver = history[r["as_of_step"]]
    return {"count": count, "sum_ver": sum_ver}


def same(got, want):
    if set(got) != set(want):
        return False
    for k, w in want.items():
        g = got[k]
        if k == "rows":
            if len(g) != len(w) or any(
                    abs(a[0] - b[0]) > 1e-9 or a[1] != b[1] or a[2] != b[2]
                    for a, b in zip(g, w)):
                return False
        elif g != w:
            return False
    return True


def check(manifest, inputs, samples, finals, executed):
    """Mark each sample ok/not ok against the model.

    Returns (samples with `correct` set, list of final-snapshot checks).
    """
    formats = manifest["formats"]
    supports = manifest["supports"]
    preload = _rows(f"{inputs}/preload.parquet")
    tables = {f: Table(preload) for f in formats}
    history = {f: {-1: tables[f].digest()} for f in formats}
    expected = {}
    for s, st in enumerate(manifest["steps"][:executed]):
        w = st["write"]
        for f in formats:
            if w["kind"] in supports[f]:
                apply_write(tables[f], w, inputs)
            history[f][s] = tables[f].digest()
            expected[(f, s, st["read"]["kind"])] = expect_read(tables[f], st["read"], history[f])
    for smp in samples:
        key = (smp["fmt"], smp["step"], smp["op"])
        if key in expected:
            smp["correct"] = bool(smp["ok"]) and same(smp["result"], expected[key])
        else:
            smp["correct"] = bool(smp["ok"])
    checks = []
    for f in formats:
        want = tables[f].final()
        got = finals.get(f, {})
        checks.append({"name": f"final.{f}", "fmt": f, "ok": got == want,
                       "got": got, "expected": want})
    return samples, checks
