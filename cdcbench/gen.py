"""Input generator for the CDC benchmark (pyarrow only, no Spark).

Everything is a pure function of (spec, seed): the same seed writes
byte-identical files. The program under test never sees this module; it
only reads the files written here, so a change to the program cannot
change the benchmark's inputs.

A generation is a directory::

    snapshot.parquet       source table rows loaded by the bootstrap
    log/part-NNNNN.parquet change-event envelopes, one file per delivery
    truth/part-NNNNN.parquet  (lsn, seq, url, op, text, lang) of every
                           distinct event: the text wrapped into the
                           html and the canonical lang of the tag
    truth/snapshot.parquet (url, text, lang) the snapshot rows must land as
    manifest.json          spec, per-file counts, DDL and lookup plans

Events come as transactions: the events of one transaction share an lsn
and are ordered by seq. Every url gets several revisions, a share of
later revisions hits a few hot urls, some urls end deleted and some of
those are inserted again, and a share of events is delivered twice (an
at-least-once source).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

# The tags the generator emits and the canonical code the replicated
# table must hold for each (normalize_lang on). Kept here, apart from the
# program's own alias table, so the check does not trust the program.
LANG_TAGS = {
    "en": "en", "EN": "en", "en-US": "en", "eng": "en",
    "de": "de", "deu": "de", "fr": "fr", "fr-FR": "fr",
    "es": "es", "spa": "es", "zh": "zh", "zh-TW": "zh",
    "x-klingon": "und",
}
_TAG_LIST = sorted(LANG_TAGS)
CANONICAL_CODES = sorted(set(LANG_TAGS.values()))

# Words with markup-significant and multi-byte characters, so the
# escape/extract round trip is exercised on every page.
_SPECIAL = ["&", "<b>", "a>b", "x<y", "&amp;", "café", "naïve",
            "東京", "—", "\"q\"", "it's"]

PAYLOAD = pa.struct([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
ENVELOPE = pa.schema([
    pa.field("lsn", pa.int64(), False), pa.field("seq", pa.int64(), False),
    pa.field("op", pa.string(), False), ("table_name", pa.string()),
    ("before", PAYLOAD), ("after", PAYLOAD), ("ts_ms", pa.int64()),
    ("is_snapshot", pa.bool_()), ("txn_id", pa.string()), ("ddl", pa.string()),
])
TRUTH = pa.schema([
    ("lsn", pa.int64()), ("seq", pa.int64()), ("url", pa.string()),
    ("op", pa.string()), ("text", pa.string()), ("lang", pa.string()),
])
SNAPSHOT = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
SNAPSHOT_TRUTH = pa.schema([("url", pa.string()), ("text", pa.string()),
                            ("lang", pa.string())])

# add, widen, then rename one column: the DDL sequence a schema-evolving
# source table emits.
DDL_SEQUENCE = [
    {"action": "add_column", "name": "fetch_status", "type": "int"},
    {"action": "widen_column", "name": "fetch_status", "type": "bigint"},
    {"action": "rename_column", "name": "fetch_status", "new_name": "http_status"},
]

# The traffic mix. Constants marked "recorded" take the repository's
# recorded bench workload (bench.py, BENCH/BASELINE.md, and the
# generator bench.py drives, sources/generator.py rich_events_df); the
# others have no recorded rate and are chosen (README.md, "Inputs").
PAD_BYTES = 4096          # recorded: html_pad=4096 B of markup per page
MAX_REVS = 16             # recorded: revs=16, 1-16 revisions a url, 8.5 on average
SNAPSHOT_SHARE = 0.5      # recorded: revision 0 of every second doc is a snapshot read
HOT_URLS = 5              # recorded: n_hot_urls=5
HOT_SHARE = 0.10          # recorded: hot_url_pct=10 of later revisions go to a hot url
DELETE_SHARE = 1 / 9      # recorded: a url's last revision is a delete when h % 9 == 0
REINSERT_SHARE = 0.5      # chosen: share of deleted urls inserted again later
DUP_SHARE = 0.03          # chosen: share of events delivered twice
TXN_SHARES = (0.3, 0.1)   # chosen: P(a transaction has a 2nd event), P(a 3rd)
ROW_GROUP_ROWS = 2048
LOOKUPS_PER_FILE = 6      # point-lookup urls planned per file

# Fixed pages that do not depend on the seed. Every run carries them, so
# a fault they expose fails the same operations on every seed.
PROBE_TEXT = "probe page & <b>text</b> naïve"
SNAPSHOT_PROBE = "https://probe.example.com/snapshot"        # tag en-US, html only
REDELIVERED_PROBE = "https://probe.example.com/redelivered"  # lsn 1, again in the last file


@dataclasses.dataclass(frozen=True)
class Spec:
    """What differs between the workloads' inputs."""
    urls: int                      # distinct urls besides the hot ones
    files: int
    redeliver_later: bool = False  # a copy lands in the next file, not the same
    ddl_files: tuple = ()          # file index of each DDL_SEQUENCE step

    def key(self) -> str:
        body = json.dumps(dataclasses.asdict(self), sort_keys=True)
        return hashlib.sha1(body.encode()).hexdigest()[:10]


def _pick(rng: random.Random, n: int) -> int:
    """A uniform draw from range(n); cheaper than randrange, which the
    generator calls several times per event."""
    return int(rng.random() * n)


def _escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _probe_html(tag: str) -> bytes:
    return (f'<html><body lang="{tag}"><div class="probe" data-k="0"></div>'
            f"<p>{_escape(PROBE_TEXT)}</p></body></html>").encode("utf-8")


class _Pages:
    """Page text and html: the only text of a page is its escaped text
    inside a <p>; everything else is attribute-only markup."""

    def __init__(self, rng: random.Random, pad_bytes: int):
        self.rng = rng
        letters = "abcdefghijklmnopqrstuvwxyz"
        vocab = ["".join(rng.choice(letters) for _ in range(rng.randint(2, 9)))
                 for _ in range(600)] + _SPECIAL
        # page texts are random slices of one long word stream: one draw
        # per page instead of one per word
        self.words = rng.choices(vocab, k=1 << 16)
        # per-site boilerplate: real pages of one site share their markup
        self.pads = []
        for s in range(32):
            parts, n, j = [], 0, 0
            while n < pad_bytes:
                p = f'<div class="s{s}b{j}" data-k="{rng.getrandbits(48):012x}"></div>'
                parts.append(p)
                n += len(p)
                j += 1
            self.pads.append("".join(parts))

    def text(self) -> str:
        start = _pick(self.rng, len(self.words) - 90)
        return " ".join(self.words[start:start + 30 + _pick(self.rng, 61)])

    def html(self, site: int, tag: str, text: str) -> bytes:
        return (f'<html><head><meta charset="utf-8"/><title data-t="p"></title>'
                f'</head><body lang="{tag}">{self.pads[site % len(self.pads)]}'
                f"<p>{_escape(text)}</p></body></html>").encode("utf-8")

    def tag(self) -> str:
        return _TAG_LIST[_pick(self.rng, len(_TAG_LIST))]


def _url(i: int) -> str:
    return f"https://site{i % 97}.example.com/page/{i}"


def _hot(j: int) -> str:
    return f"https://hot.example.com/h{j}"


def _ts(lsn: int):
    return EPOCH_US + lsn * 1_000_000


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="zstd", row_group_size=ROW_GROUP_ROWS)


def _revisions(spec: Spec, rng: random.Random) -> tuple[list[int], list[tuple]]:
    """Which urls the snapshot holds, and every url's streamed revisions
    in delivery order as (url index, kind); kind "w" writes the page
    (insert or update), "d" deletes it."""
    in_snap, plan = [], []
    for i in range(spec.urls):
        snap = rng.random() < SNAPSHOT_SHARE
        kinds = ["w"] * (1 + _pick(rng, MAX_REVS))
        if snap:
            in_snap.append(i)
            kinds = kinds[1:]          # revision 0 is the snapshot row
        if (len(kinds) >= 2 or (snap and kinds)) and rng.random() < DELETE_SHARE:
            kinds[-1] = "d"
            if rng.random() < REINSERT_SHARE:
                kinds.append("w")
        times = sorted(rng.random() for _ in kinds)
        plan += [(t, i, k) for t, k in zip(times, kinds)]
    plan.sort()
    return in_snap, [(i, k) for _t, i, k in plan]


def generate(spec: Spec, seed: int, out_dir: str) -> dict:
    """Write one generation into ``out_dir`` (replaced if present)."""
    rng = random.Random(f"cdcbench:{seed}")
    pages = _Pages(rng, PAD_BYTES)
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(f"{out_dir}/log")
    os.makedirs(f"{out_dir}/truth")
    in_snap, plan = _revisions(spec, rng)

    # ---- snapshot: the source table as the bootstrap finds it: html and
    # a raw lang tag, no text of its own
    alive: dict[str, tuple[str, str]] = {}  # url -> (text, tag)
    snap = {k: [] for k in SNAPSHOT.names}
    snap_truth = {k: [] for k in SNAPSHOT_TRUTH.names}

    def snap_row(url, html, text, tag):
        alive[url] = (text, tag)
        for k, v in (("url", url), ("warc_ts", EPOCH_US), ("html", html),
                     ("text", None), ("lang", tag)):
            snap[k].append(v)
        for k, v in (("url", url), ("text", text), ("lang", LANG_TAGS[tag])):
            snap_truth[k].append(v)

    snap_row(SNAPSHOT_PROBE, _probe_html("en-US"), PROBE_TEXT, "en-US")
    for j in range(HOT_URLS):
        text, tag = pages.text(), pages.tag()
        snap_row(_hot(j), pages.html(j, tag, text), text, tag)
    for i in in_snap:
        text, tag = pages.text(), pages.tag()
        snap_row(_url(i), pages.html(i, tag, text), text, tag)
    _write(pa.table(snap, schema=SNAPSHOT), f"{out_dir}/snapshot.parquet")
    _write(pa.table(snap_truth, schema=SNAPSHOT_TRUTH), f"{out_dir}/truth/snapshot.parquet")

    # ---- the log
    seen = [SNAPSHOT_PROBE] + [_hot(j) for j in range(HOT_URLS)] + [_url(i) for i in in_snap]
    per_file = -(-len(plan) // spec.files)
    pos, lsn = 0, 0
    carried: list[dict] = []        # copies re-delivered in the next file
    files_meta = []

    def event(lsn, seq, op, url, prev, text, tag):
        ts = _ts(lsn)
        if op == "d":
            before = {"url": url, "warc_ts": ts, "html": None, "text": prev[0],
                      "lang": prev[1]}
            after = None
        else:
            # the table's text must come from the html: the event carries
            # none of its own
            html = (_probe_html(tag) if url == REDELIVERED_PROBE
                    else pages.html(_pick(rng, 1 << 16), tag, text))
            after = {"url": url, "warc_ts": ts, "html": html, "text": None, "lang": tag}
            before = None if prev is None else {
                "url": url, "warc_ts": None, "html": None, "text": None, "lang": prev[1]}
        return {"lsn": lsn, "seq": seq, "op": op, "table_name": "pages",
                "before": before, "after": after, "ts_ms": ts // 1000,
                "is_snapshot": False, "txn_id": f"tx{lsn}", "ddl": None}

    for fi in range(spec.files):
        env: list[dict] = list(carried)
        carried = []
        truth: list[dict] = []
        later: list[dict] = []
        touched: dict[str, str] = {}  # url -> last op in this file

        def emit(e, url, text, tag):
            env.append(e)
            truth.append({"lsn": e["lsn"], "seq": e["seq"], "url": url, "op": e["op"],
                          "text": None if e["op"] == "d" else text,
                          "lang": None if e["op"] == "d" else LANG_TAGS[tag]})
            touched[url] = e["op"]

        ddls = [DDL_SEQUENCE[k] for k, f in enumerate(spec.ddl_files) if f == fi]
        for d in ddls:
            lsn += 1
            env.append({"lsn": lsn, "seq": 0, "op": "ddl", "table_name": "pages",
                        "before": None, "after": None, "ts_ms": _ts(lsn) // 1000,
                        "is_snapshot": False, "txn_id": f"tx{lsn}",
                        "ddl": json.dumps(d, sort_keys=True)})
        if fi == 0 and spec.redeliver_later:
            lsn += 1
            e = event(lsn, 0, "c", REDELIVERED_PROBE, None, PROBE_TEXT, "EN")
            emit(e, REDELIVERED_PROBE, PROBE_TEXT, "EN")
            seen.append(REDELIVERED_PROBE)
            probe_copy = e
        stop = len(plan) if fi == spec.files - 1 else min(len(plan), (fi + 1) * per_file)
        n = 0
        while pos < stop:
            lsn += 1
            txn = 1 + (rng.random() < TXN_SHARES[0]) + (rng.random() < TXN_SHARES[1])
            for seq in range(min(txn, len(plan) - pos)):
                i, kind = plan[pos]
                pos += 1
                url = _url(i)
                prev = alive.get(url)
                if kind == "d":
                    op = "d"
                elif prev is None:
                    op = "c"
                    seen.append(url)
                else:
                    op = "u"
                    if rng.random() < HOT_SHARE:
                        url = _hot(_pick(rng, HOT_URLS))
                        prev = alive[url]
                if op == "d":
                    text = tag = None
                    del alive[url]
                else:
                    text, tag = pages.text(), pages.tag()
                    alive[url] = (text, tag)
                e = event(lsn, seq, op, url, prev, text, tag)
                emit(e, url, text, tag)
                n += 1
                if rng.random() < DUP_SHARE:
                    later.append(e)
        if spec.redeliver_later and fi < spec.files - 1:
            carried = later            # the copy lands in the next file
        else:
            env.extend(later)          # the copy lands in the same file
        if fi == spec.files - 1 and spec.redeliver_later:
            env.append(probe_copy)
        name = f"part-{fi:05d}.parquet"
        _write(pa.Table.from_pylist(env, schema=ENVELOPE), f"{out_dir}/log/{name}")
        _write(pa.Table.from_pylist(truth, schema=TRUTH), f"{out_dir}/truth/{name}")
        upd = sorted(u for u, o in touched.items() if o != "d")
        dele = sorted(u for u, o in touched.items() if o == "d")
        rest = [u for u in seen[: len(seen) // 2] if u not in touched]
        k = LOOKUPS_PER_FILE
        lookups = []
        for pool, want in ((upd, k - 2 * (k // 3)), (dele, k // 3), (rest, k // 3)):
            lookups += rng.sample(pool, min(want, len(pool)))
        probes = [SNAPSHOT_PROBE] + ([REDELIVERED_PROBE] if spec.redeliver_later else [])
        files_meta.append({"name": name, "rows": len(env), "events": len(truth),
                           "ddl": ddls, "lookups": lookups + probes})

    manifest = {"spec": dataclasses.asdict(spec), "seed": seed,
                "snapshot_rows": len(snap["url"]), "files": files_meta,
                "events": sum(f["events"] for f in files_meta),
                "log_rows": sum(f["rows"] for f in files_meta),
                "urls": len(seen)}
    with open(f"{out_dir}/manifest.json", "w") as f:
        json.dump(manifest, f, sort_keys=True)
    return manifest


def cached(spec: Spec, seed: int, cache_root: str) -> tuple[str, dict]:
    """Generation for (spec, seed), made once and kept under cache_root."""
    out = os.path.join(cache_root, f"{spec.key()}-s{seed}")
    mpath = os.path.join(out, "manifest.json")
    if not os.path.exists(mpath):
        tmp = f"{out}.tmp{os.getpid()}"
        generate(spec, seed, tmp)
        if os.path.exists(out):
            shutil.rmtree(out)
        os.rename(tmp, out)
    with open(mpath) as f:
        return out, json.load(f)
