"""The ``lake`` workload: the publish and retrieve surface.

Inputs come from a seeded generator that also keeps the expected lake
state in plain Python (:class:`Model`); every answer the program returns
is compared with it, and the ``TxnTable`` version count of each table
must equal the number of publish calls made to it.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import threading
from concurrent.futures import ThreadPoolExecutor

from interop_datalake_spark.lake import publish as pub
from interop_datalake_spark.lake import retrieve as ret
from interop_datalake_spark.session import DatalakeSession

RESOURCE_TYPES = ("Patient", "Observation", "Condition", "Encounter")
CONTENT_TYPES = ("application/pdf", "text/json", "video/mp4")
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query scan batch"
).split()
FHIR_SCHEMA = "resource_type STRING, resource_id STRING, resource_json STRING"
BIN_SCHEMA = "resource_id STRING, content_type STRING, resource_json STRING"
URL_PREFIX = "https://objectstorage.us-phoenix-1.oraclecloud.com/n/namespace/b/datalake/o/"

#: input make-up: tenants, resources per type per FHIR publish, Binary
#: documents per publish, and document sizes (bytes of free text)
FULL = {"tenants": 2, "fhir_per_type": 40, "binaries": 80, "fhir_text": 400,
        "binary_text": 1500, "batch_ids": 200, "urls": 20}
TINY = {"tenants": 2, "fhir_per_type": 3, "binaries": 6, "fhir_text": 60,
        "binary_text": 120, "batch_ids": 12, "urls": 6}

#: one read round: 12 reads in a seeded order, then one publish
READ_MIX = (
    ["hit"] * 4 + ["miss_in", "miss_out"]
    + ["exists_hit", "exists_miss_in", "exists_miss_out"]
    + ["batch", "urls", "fhir"]
)
PROBE_EVERY = 4
#: one round at the reference host speed (s): a tenant round on each of
#: two racing threads (~2.8 s), then READ_MIX and a publish (~3.6 s)
ROUND_S = 6.4
BAD_URLS = ("", "not a url", "https://objectstorage.example.com/o/",
            URL_PREFIX + "raw_data_response/tenant_id={t}/x", "ftp://datalake/{t}")


class Model:
    """Seeded input generator plus the expected lake state."""

    def __init__(self, seed: int, sizes: dict):
        self.rng = random.Random(seed)
        self.sizes = sizes
        self.tenants = [f"tenant{i:02d}" for i in range(sizes["tenants"])]
        self.binary: dict = {t: {} for t in self.tenants}
        self.fhir: dict = {}
        self._seq: dict = {}
        self.fhir_publishes = 0
        self.binary_publishes = 0
        self._lock = threading.Lock()

    def _text(self, n: int) -> str:
        out, size = [], 0
        while size < n:
            w = self.rng.choice(WORDS)
            out.append(w)
            size += len(w) + 1
        return " ".join(out)

    def publishes_of(self, tenant: str) -> int:
        return self._seq.get(("fhir", tenant), 0)

    def _next_seq(self, key) -> int:
        self._seq[key] = self._seq.get(key, 0) + 1
        return self._seq[key]

    def _rid(self, seq: int) -> str:
        # ids grow with the publish sequence, so per-file min/max stats
        # separate one publish's ids from the next, as time-ordered ids do
        return f"{seq:04d}-{self.rng.getrandbits(40):010x}"

    def fhir_batch(self, tenant: str) -> list[tuple]:
        seq = self._next_seq(("fhir", tenant))
        rows = []
        for rtype in RESOURCE_TYPES:
            for _ in range(self.sizes["fhir_per_type"]):
                rid = self._rid(seq)
                doc = json.dumps({"resourceType": rtype, "id": rid,
                                  "text": self._text(self.sizes["fhir_text"])})
                rows.append((rtype, rid, doc))
        return rows

    def binary_batch(self, tenant: str) -> list[tuple]:
        seq = self._next_seq(("binary", tenant))
        rows = []
        for _ in range(self.sizes["binaries"]):
            rid = self._rid(seq)
            ct = self.rng.choice(CONTENT_TYPES)
            doc = json.dumps({"resourceType": "Binary", "id": rid, "contentType": ct,
                              "data": self._text(self.sizes["binary_text"])})
            rows.append((rid, ct, doc))
        return rows

    def commit_fhir(self, tenant: str, rows) -> None:
        with self._lock:
            self.fhir_publishes += 1
            for rtype, rid, doc in rows:
                self.fhir.setdefault((tenant, rtype.lower()), {})[rid] = doc

    def commit_binary(self, tenant: str, rows) -> None:
        with self._lock:
            self.binary_publishes += 1
            for rid, ct, doc in rows:
                self.binary[tenant][rid] = (ct, doc)

    # ---- read keys ----------------------------------------------------

    def hit(self, tenant: str) -> str:
        return self.rng.choice(sorted(self.binary[tenant]))

    def miss_in(self, tenant: str) -> str:
        """An absent id strictly inside one publish's id range, so no
        file's min/max stats can prune it away."""
        ids = sorted(self.binary[tenant])
        i = self.rng.randrange(len(ids) - 1)
        return ids[i] + "x"  # between ids[i] and ids[i + 1]

    def miss_out(self) -> str:
        return f"{self.rng.choice(('0000', '9999'))}-{self.rng.getrandbits(40):010x}"

    def url(self, tenant: str, rid: str) -> str:
        return f"{URL_PREFIX}ehr/Binary/fhir_tenant_id={tenant}/{rid}.json"

    # ---- expected answers ----------------------------------------------

    def expect_binary(self, tenant: str, rid: str):
        got = self.binary[tenant].get(rid)
        return None if got is None else (tenant, rid, got[0], got[1])

    def expect_fhir(self, tenant: str, rtype: str) -> list:
        return sorted(self.fhir.get((tenant, rtype.lower()), {}).items())


# ---- calls into the program, each consuming its result ----------------


def _binary_row(r):
    return None if r is None else (r["fhir_tenant_id"], r["resource_id"],
                                   r["content_type"], r["resource_json"])


def op_publish_fhir(session, tenant, df):
    return pub.publish_fhir_r4(session, tenant, df)


def op_publish_binary(session, tenant, df):
    return pub.publish_binary(session, tenant, df)


def op_retrieve_binary(session, tenant, rid):
    return _binary_row(ret.retrieve_binary(session, tenant, rid))


def op_exists(session, tenant, rid):
    return ret.binary_exists(session, tenant, rid)


def op_batch(session, tenant, ids):
    return sorted(_binary_row(r) for r in ret.retrieve_binary_batch(session, tenant, ids).collect())


def op_urls(session, urls):
    return sorted((r["url"],) + _binary_row(r)
                  for r in ret.retrieve_binary_by_urls(session, urls).collect())


def op_fhir(session, tenant, rtype):
    return sorted((r["resource_id"], r["resource_json"])
                  for r in ret.retrieve_fhir(session, tenant, rtype).collect())


# ---- shared steps -------------------------------------------------------


def untimed(kind, fn, *args, jobs_by_group=False):
    """Stand-in for :meth:`Run.call` while seeding: no timing, no count."""
    return True, fn(*args)


def tenant_round(call, session, tenant, inp, group_jobs=False, reads=True) -> dict:
    """Publish FHIR, publish Binary, then read both back: four timed
    calls. Results are checked by :func:`settle_round` after the round."""
    fh, fdf, bn, bdf, rtype = inp
    steps = [
        ("publish_fhir_r4", op_publish_fhir, fdf),
        ("publish_binary", op_publish_binary, bdf),
    ]
    if reads:
        steps += [
            ("retrieve_binary_batch", op_batch, [r[0] for r in bn]),
            ("retrieve_fhir", op_fhir, rtype),
        ]
    return {kind: call(kind, fn, session, tenant, arg, jobs_by_group=group_jobs)
            for kind, fn, arg in steps}


def settle_round(run, model, tenant, inp, out: dict) -> None:
    fh, _, bn, _, rtype = inp
    ok, n = out["publish_fhir_r4"]
    if ok:
        model.commit_fhir(tenant, fh)
        run.check(n == len(fh), f"publish_fhir_r4 {tenant} returned {n}, sent {len(fh)}")
    ok, n = out["publish_binary"]
    if ok:
        model.commit_binary(tenant, bn)
        run.check(n == len(bn), f"publish_binary {tenant} returned {n}, sent {len(bn)}")
    if "retrieve_binary_batch" not in out:
        return
    ok, rows = out["retrieve_binary_batch"]
    if ok:
        want = sorted(x for x in (model.expect_binary(tenant, r[0]) for r in bn) if x)
        run.check(rows == want, f"read-your-write batch {tenant}: {len(rows)} rows, want {len(want)}")
    ok, rows = out["retrieve_fhir"]
    if ok:
        want = model.expect_fhir(tenant, rtype)
        run.check(rows == want, f"read-your-write fhir {tenant}/{rtype}: {len(rows)} rows, want {len(want)}")


def publish_rounds(run, session, model, tenant_pairs, pool, measured=True) -> None:
    """Run tenant rounds for each pair of tenants on two racing threads,
    with a barrier (and, when measured, a probe) between pairs. Seeding
    (``measured=False``) publishes only and times nothing."""
    spark = session.spark
    call = run.call if measured else untimed
    group_jobs = measured and run.tracer is not None
    for pair in tenant_pairs:
        inputs = []
        for t in pair:
            rtype = RESOURCE_TYPES[model.publishes_of(t) % len(RESOURCE_TYPES)]
            fh, bn = model.fhir_batch(t), model.binary_batch(t)
            inputs.append((fh, spark.createDataFrame(fh, FHIR_SCHEMA),
                           bn, spark.createDataFrame(bn, BIN_SCHEMA), rtype))
        with run.phase() if measured else contextlib.nullcontext():
            futs = [pool.submit(tenant_round, call, session, t, inp, group_jobs, measured)
                    for t, inp in zip(pair, inputs)]
            outs = [f.result() for f in futs]
        for t, inp, out in zip(pair, inputs, outs):
            settle_round(run, model, t, inp, out)
        if measured:
            run.probe.sample()


def check_versions(run, session, model) -> None:
    fv = pub.txn_table(session, pub.FHIR_TABLE).current_version()
    bv = pub.txn_table(session, pub.BINARY_TABLE).current_version()
    run.check(fv == model.fhir_publishes,
              f"ehr has {fv} versions after {model.fhir_publishes} publish_fhir_r4 calls")
    run.check(bv == model.binary_publishes,
              f"ehr_binary has {bv} versions after {model.binary_publishes} publish_binary calls")


def lake_info(session, model) -> dict:
    """Versions, live data files and bytes of the benchmark lake."""
    versions = files = size = 0
    for table in (pub.FHIR_TABLE, pub.BINARY_TABLE):
        t = pub.txn_table(session, table)
        versions += t.current_version()
        live = t.files()
        files += len(live)
        size += sum(os.path.getsize(f) for f in live)
    docs = sum(len(v) for v in model.fhir.values()) + sum(len(v) for v in model.binary.values())
    return {"versions": versions, "files": files, "bytes": size, "docs": docs}


def warm_reads(session, model) -> None:
    """Run every read once. Reads leave the lake as it is, so
    they warm up on the seeded lake itself."""
    t = model.tenants[0]
    hit = model.hit(t)
    op_retrieve_binary(session, t, hit)
    op_retrieve_binary(session, t, model.miss_in(t))
    op_exists(session, t, hit)
    op_exists(session, t, model.miss_out())
    op_batch(session, t, [hit, model.miss_in(t)])
    op_urls(session, [model.url(t, hit), "not a url"])
    op_fhir(session, t, RESOURCE_TYPES[0])


# ---- the workload ------------------------------------------------------------


def lake(run, work: str, sizes: dict):
    """Seed a lake, then run rounds of racing tenant publishes followed by
    a keyed read mix with a publish trickle."""
    spark = run.spark
    session = DatalakeSession(lake_root=f"{work}/lake", spark=spark)
    model = Model(run.seed, sizes)
    half = len(model.tenants) // 2
    pool = ThreadPoolExecutor(2)
    try:
        # seeding runs every publish once, so it also warms the write path
        with run.setup_part("seed"):
            pairs = [(model.tenants[i], model.tenants[half + i]) for i in range(half)]
            publish_rounds(run, session, model, pairs, pool, measured=False)
        with run.setup_part("warmup"):
            warm_reads(session, model)
        yield
        run.probe.sample()
        rounds = run.rounds(ROUND_S)
        for r in range(rounds):
            pair = (model.tenants[r % half], model.tenants[half + r % half])
            publish_rounds(run, session, model, [pair], pool)
            read_round(run, session, model)
            run.end_round()
    finally:
        pool.shutdown()
    yield
    check_versions(run, session, model)
    return {"rounds": rounds, "lake": lake_info(session, model)}


def read_round(run, session, model) -> None:
    """READ_MIX in a seeded order, then one Binary publish; each call is
    its own timed phase, with a probe every PROBE_EVERY calls."""
    kinds = list(READ_MIX)
    model.rng.shuffle(kinds)
    kinds.append("publish")
    for i, kind in enumerate(kinds, 1):
        op, fn, args, expect = _read_step(model, kind)
        if op == "publish_binary":
            args = (args[0], session.spark.createDataFrame(args[1], BIN_SCHEMA))
        with run.phase():
            ok, got = run.call(op, fn, session, *args)
        if ok:
            run.check(*expect(got))
        if i % PROBE_EVERY == 0:
            run.probe.sample()


def _read_step(model, kind):
    """Inputs for one read-round operation, drawn before it is timed:
    ``(operation, fn, args, expect)``; ``expect(result)`` gives the
    ``(ok, description)`` check made after the call."""
    tenant = model.rng.choice(model.tenants)
    if kind in ("hit", "miss_in", "miss_out", "exists_hit", "exists_miss_in", "exists_miss_out"):
        which = kind.removeprefix("exists_")
        rid = (model.hit(tenant) if which == "hit" else
               model.miss_in(tenant) if which == "miss_in" else model.miss_out())
        want = model.expect_binary(tenant, rid)
        if kind.startswith("exists"):
            return ("binary_exists", op_exists, (tenant, rid), lambda got: (
                got == (want is not None), f"binary_exists {tenant}/{rid}: {got}"))
        return ("retrieve_binary", op_retrieve_binary, (tenant, rid), lambda got: (
            got == want, f"retrieve_binary {tenant}/{rid}: found={got is not None}"))
    if kind == "batch":
        n = model.sizes["batch_ids"]
        ids = [model.hit(tenant) for _ in range(n // 2)]
        ids += [model.miss_in(tenant) for _ in range(n - n // 2)]
        model.rng.shuffle(ids)
        want = sorted({x for x in (model.expect_binary(tenant, i) for i in ids) if x})
        return ("retrieve_binary_batch", op_batch, (tenant, ids), lambda got: (
            got == want, f"retrieve_binary_batch {tenant}: {len(got)} rows, want {len(want)}"))
    if kind == "urls":
        urls, want = [], []
        for i in range(model.sizes["urls"]):
            t = model.rng.choice(model.tenants)
            if i % 5 == 4:  # malformed: dropped without a read
                urls.append(model.rng.choice(BAD_URLS).format(t=t))
                continue
            rid = model.miss_in(t) if i % 5 == 3 else model.hit(t)
            urls.append(model.url(t, rid))
            row = model.expect_binary(t, rid)
            if row:  # one row per URL asked for, repeats included
                want.append((urls[-1],) + row)
        want.sort()
        return ("retrieve_binary_by_urls", op_urls, (urls,), lambda got: (
            got == want, f"retrieve_binary_by_urls: {len(got)} rows, want {len(want)}"))
    if kind == "fhir":
        rtype = model.rng.choice(RESOURCE_TYPES)
        want = model.expect_fhir(tenant, rtype)
        return ("retrieve_fhir", op_fhir, (tenant, rtype), lambda got: (
            got == want, f"retrieve_fhir {tenant}/{rtype}: {len(got)} rows, want {len(want)}"))
    # the publish trickle: one Binary batch moves the snapshot
    bn = model.binary_batch(tenant)

    def expect(got):
        model.commit_binary(tenant, bn)
        return got == len(bn), f"publish_binary {tenant} returned {got}, sent {len(bn)}"
    return ("publish_binary", op_publish_binary, (tenant, bn), expect)
