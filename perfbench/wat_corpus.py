"""Seeded WAT corpus generator for the benchmark.

Writes gzip WAT archives (one gzip member per WARC record, the Common
Crawl layout) and a pre-parsed parquet lake with ``WAT_SCHEMA``, and
returns the parsed records so the expected output can be derived from
``tests/wat_fixtures.oracle_extract``.

Knobs (``CorpusSpec``): archives, records per archive, links per record,
the share of IMG links that carry a non-empty alt, the share of relative
URLs, the share of records with a ``<base href>``, and the share of links
drawn from a pool shared by every archive (cross-archive duplicates).

Each archive also carries records that the containment tiers of
``sources.wat.read_wat_archives`` must drop: a ``warcinfo`` record, a
metadata record with a truncated JSON payload (record tier), a record
whose Links are null and one without HTML metadata (envelope guards).
One extra archive ends in a structurally broken record (its payload is
shorter than its Content-Length), so the whole file is dropped (file
tier). None of these reach the parsed records or the lake.
"""

from __future__ import annotations

import dataclasses
import gzip
import json
import os
import random
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from tests.fixtures.build_tiny_wat import _warc_record  # noqa: E402
from tests.wat_fixtures import empty_record, link, oracle_extract, record  # noqa: E402

_WORDS = (
    "red blue green cat dog tree house river city night day bridge road "
    "car boat sky sun moon star field flower garden book lamp chair"
).split()
_IMG_EXTS = (".jpg", ".png", ".gif", ".webp", ".jpeg")
_OTHER_SCHEMES = ("mailto:info@example.com", "javascript:void(0)", "data:image/png;base64,AAAA")


@dataclasses.dataclass(frozen=True)
class CorpusSpec:
    archives: int = 4
    records_per_archive: int = 200
    links_per_record: int = 40
    img_share: float = 0.6
    img_alt_share: float = 0.7
    relative_share: float = 0.3
    base_share: float = 0.2
    shared_share: float = 0.1
    shared_pool: int = 2000


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


def _relative_url(rng: random.Random, stem: str, ext: str) -> str:
    kind = rng.randrange(4)
    if kind == 0:
        return f"/img/{stem}{ext}"
    if kind == 1:
        return f"{stem}{ext}"
    if kind == 2:
        return f"../media/{stem}{ext}"
    return f"//cdn{rng.randrange(8)}.example.net/{stem}{ext}"


def _fresh_link(rng: random.Random, spec: CorpusSpec, tag: str) -> dict:
    stem = f"{tag}-{rng.getrandbits(40):010x}"
    roll = rng.random()
    if roll < spec.img_share:
        ext = rng.choice(_IMG_EXTS)
        if rng.random() < spec.relative_share:
            url = _relative_url(rng, stem, ext)
        else:
            url = f"https://img{rng.randrange(64)}.example.com/{stem}{ext}"
        alt = _words(rng, rng.randint(1, 6)) if rng.random() < spec.img_alt_share else rng.choice(("", None))
        return link(url=url, alt=alt, path="IMG@/src")
    if roll < spec.img_share + 0.02:
        return link(url=rng.choice(_OTHER_SCHEMES), text="other scheme", path="A@/href")
    if rng.random() < spec.relative_share:
        url = _relative_url(rng, stem, ".html")
    else:
        url = f"http://site{rng.randrange(256)}.example.org/{stem}.html"
    return link(url=url, text=_words(rng, rng.randint(0, 4)), path="A@/href")


def _shared_pool(seed: int, spec: CorpusSpec) -> list[dict]:
    rng = random.Random(f"pool-{seed}")
    pool = []
    for i in range(spec.shared_pool):
        ln = _fresh_link(rng, spec, f"shared{i}")
        if ln["path"] == "IMG@/src":
            # pool links are absolute so the same (alt, url) recurs in
            # every archive and the dedup exchange has work to do
            ln["url"] = f"https://shared.example.com/{i}{rng.choice(_IMG_EXTS)}"
        pool.append(ln)
    return pool


def _archive_records(rng: random.Random, spec: CorpusSpec, pool: list[dict], filename: str, a: int) -> list[dict]:
    out = []
    for r in range(spec.records_per_archive):
        links = [
            dict(rng.choice(pool)) if rng.random() < spec.shared_share else _fresh_link(rng, spec, f"a{a}r{r}")
            for _ in range(spec.links_per_record)
        ]
        page = f"http://www{rng.randrange(512)}.example.com/{a}/{r}/index.html"
        base = None
        if rng.random() < spec.base_share:
            base = rng.choice(("https://static.example.com/assets/", "/static/", "sub/dir/"))
        out.append(record(links, page_url=page, base=base, filename=filename))
    return out


def _warc_bytes(records: list[dict], broken: bool) -> bytes:
    """One gzip member per WARC record; the containment probes ride
    along. ``broken`` appends a record whose payload is cut short."""
    n = 0

    def member(warc_type: str, uri: str, payload: bytes, declared: int | None = None) -> bytes:
        nonlocal n
        n += 1
        headers = {
            "WARC-Target-URI": uri,
            "WARC-Date": "2020-01-01T00:00:00Z",
            "WARC-Record-ID": f"<urn:uuid:00000000-0000-0000-0000-{n:012d}>",
            "Content-Type": "application/json",
        }
        raw = _warc_record(warc_type, headers, payload)
        if declared is not None:
            raw = raw.replace(
                f"Content-Length: {len(payload)}\r\n".encode(),
                f"Content-Length: {declared}\r\n".encode(),
            )
        return gzip.compress(raw, mtime=0)

    parts = [member("warcinfo", "", b"software: perfbench\r\n")]
    for rec in records:
        uri = rec["Envelope"]["WARC-Header-Metadata"]["WARC-Target-URI"]
        parts.append(member("metadata", uri, json.dumps(rec, separators=(",", ":")).encode()))
    # record tier: malformed JSON, null Links, no HTML metadata
    parts.append(member("metadata", "http://broken.example.com/", b'{"Envelope": {"Payload-Metadata": trunc'))
    parts.append(member("metadata", "http://nolinks.example.com/", json.dumps(empty_record()).encode()))
    no_html = {
        "Envelope": {
            "Payload-Metadata": {"HTTP-Response-Metadata": {}},
            "WARC-Header-Metadata": {"WARC-Target-URI": "http://nohtml.example.com/"},
        },
        "Container": {"Filename": "x"},
    }
    parts.append(member("metadata", "http://nohtml.example.com/", json.dumps(no_html).encode()))
    if broken:
        parts.append(member("metadata", "http://cut.example.com/", b'{"Envelope": {}}', declared=4096))
    return b"".join(parts)


@dataclasses.dataclass
class Corpus:
    archive_paths: list[str]
    lake_paths: list[str]
    records: list[dict]  # what the parser keeps, in archive order
    links_in: int  # links on the kept records
    archive_bytes: int

    def expected_rows(self, document_type: str) -> int:
        return len({t[0] for t in oracle_extract(self.records, document_type)})


def generate(out_dir: str, seed: int, spec: CorpusSpec, lake: bool = False) -> Corpus:
    """Write ``spec.archives`` good archives plus one broken one into
    ``out_dir/archives``; with ``lake``, also one parquet file of the
    parsed records per good archive into ``out_dir/lake``."""
    rng = random.Random(seed)
    pool = _shared_pool(seed, spec)
    os.makedirs(os.path.join(out_dir, "archives"), exist_ok=True)
    paths, lake_paths, kept, size = [], [], [], 0
    for a in range(spec.archives + 1):
        broken = a == spec.archives
        name = f"CC-BENCH-{seed}-{a:05d}.warc.wat.gz"
        # the broken archive is small: its records never count
        arch_spec = dataclasses.replace(spec, records_per_archive=3) if broken else spec
        recs = _archive_records(rng, arch_spec, pool, name, a)
        data = _warc_bytes(recs, broken)
        path = os.path.join(out_dir, "archives", name)
        with open(path, "wb") as f:
            f.write(data)
        size += len(data)
        paths.append(path)
        if not broken:
            kept.extend(recs)
            if lake:
                lake_paths.append(_write_lake_file(out_dir, a, recs))
    links_in = sum(len(r["Envelope"]["Payload-Metadata"]["HTTP-Response-Metadata"]["HTML-Metadata"]["Links"]) for r in kept)
    return Corpus(paths, lake_paths, kept, links_in, size)


def _write_lake_file(out_dir: str, a: int, recs: list[dict]) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(out_dir, "lake"), exist_ok=True)
    path = os.path.join(out_dir, "lake", f"part-{a:05d}.parquet")
    pq.write_table(pa.Table.from_pylist(recs, schema=_lake_schema()), path)
    return path


def _lake_schema():
    import pyarrow as pa

    link_t = pa.struct([(k, pa.string()) for k in ("url", "alt", "text", "path")])
    html = pa.struct([("Links", pa.list_(link_t)), ("Head", pa.struct([("Base", pa.string())]))])
    return pa.schema(
        [
            (
                "Envelope",
                pa.struct(
                    [
                        ("Payload-Metadata", pa.struct([("HTTP-Response-Metadata", pa.struct([("HTML-Metadata", html)]))])),
                        ("WARC-Header-Metadata", pa.struct([("WARC-Target-URI", pa.string())])),
                    ]
                ),
            ),
            ("Container", pa.struct([("Filename", pa.string())])),
        ]
    )

