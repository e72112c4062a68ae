"""WebDataset-style TAR sample ingestion: the de-facto standard
layout for large-scale multimodal training data (shards are plain
tar archives; the files ``key.jpg`` / ``key.txt`` / ``key.json``
form one training sample per key, samples stored contiguously).

Ingest stages (Arrow ``mapInPandas`` over the shard scan) plus — r8
— the WRITE side (:func:`write_webdataset` /
:func:`save_webdataset`): a curation pipeline re-shards its output
(select → re-pack into size-bounded tar shards with deterministic
md5-order assignment), closing the read-curate-write loop.

Ingest:

- :func:`tar_members` — explode a tar payload column into one row
  per member (key, extension, byte size, payload). Stdlib
  ``tarfile`` over an in-memory buffer; corrupt shards yield one
  attributable null row.
- :func:`webdataset_samples` — group members into samples
  ROW-LOCALLY (the WebDataset contract says a sample's files are
  adjacent in the shard, so grouping happens inside the same Arrow
  pass — no shuffle) and emit one row per sample with an
  ``ext -> payload`` map. Downstream decode composes with the real
  decoders in this repo: ``.jpg`` → :func:`jpeg.parse_jpeg`,
  ``.png``/``.ppm`` → :func:`multimodal.parse_image`, ``.flac`` /
  ``.wav`` → :func:`multimodal.parse_audio`.

Scale shape: a 100 TB WebDataset corpus is millions of ~1 GB shards;
parallelism comes from one task per shard (binaryFile splits), the
member explode is map-only, and sample payloads never shuffle or
visit the driver. The per-sample map column keeps a sample's
modalities together without a (key)-join — exactly why the format
stores them adjacently.

r10 adds the ZIP container: :func:`zip_samples` explodes ZIP shards
(STORED + DEFLATED members, stdlib ``zipfile``) into the SAME
parts-map sample shape — ZIP has no adjacency contract, so samples
group per archive — and :func:`make_zip_payload` is its closed-form
fixture writer. r11 closes the ZIP loop with the write side:
:func:`write_zip_shards` / :func:`save_zip_shards` (deterministic
md5-order assignment, DOS-epoch-pinned byte-stable output) and
:func:`zip_members` (ordered member explode), mirroring the tar
writer so the ``zip_roundtrip`` oracle value-checks the full
read-curate-write loop including member order. Each writer keeps
only its member-writing ``pack`` body: the md5-order shard
assignment and the one ``applyInPandas`` stage are
:func:`._payload.pack_shards`, shared with the WET and WAT writers
of :mod:`.warc`, and both ``save_*`` functions write their files
through one executor-side writer, :func:`_save_shards`.

The fixture generator (:func:`make_webdataset_payload`) builds real
tar shards whose ``.txt`` members are closed-form strings and whose
``.jpg`` members are the DC-only fixture JPEGs from :mod:`.jpeg`, so
the ``webdataset_samples`` oracle value-checks the tar walk, the
sample grouping AND the decoded image statistics.
"""

from __future__ import annotations

import io
import struct
import tarfile
import zipfile
import zlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._payload import build_payloads, map_payloads, pack_shards

__all__ = [
    "tar_members",
    "webdataset_samples",
    "zip_samples",
    "zip_members",
    "write_webdataset",
    "save_webdataset",
    "write_zip_shards",
    "save_zip_shards",
    "make_webdataset_payload",
    "make_zip_payload",
]


def _split_key(name: str) -> tuple[str, str]:
    """WebDataset ``(key, ext)`` of a member name: the key is
    everything up to the FIRST dot of the basename (so ``x.seg.png``
    is sample ``x`` with ext ``seg.png``, and dotted directory
    prefixes like ``v1.2/x.png`` never split the key)."""
    dot = name.find(".", name.rfind("/") + 1)
    return (name, "") if dot < 0 else (name[:dot], name[dot + 1 :])


def _iter_members(payload: bytes):
    with tarfile.open(fileobj=io.BytesIO(bytes(payload))) as tf:
        for m in tf:
            if not m.isfile():
                continue
            yield (*_split_key(m.name), tf.extractfile(m).read())


def _read_tar(payload: bytes | None) -> list[tuple[str, str, bytes]]:
    """Every regular member of a tar shard, or ``[]`` when the shard is
    null or unreadable."""
    if payload is None:
        return []
    try:
        return list(_iter_members(payload))
    except (tarfile.TarError, OSError, EOFError):
        return []


TAR_MEMBER_FIELDS = [
    T.StructField("member_idx", T.LongType()),
    T.StructField("sample_key", T.StringType()),
    T.StructField("ext", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("member", T.BinaryType()),
]


def tar_members(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Explode a tar-shard binary column into one row per regular
    member: ``(id_col, member_idx, sample_key, ext, n_bytes,
    member)`` — ``member_idx`` (r8) is the member's position in the
    archive, so shard ORDER is checkable downstream (the
    ``webdataset_roundtrip`` oracle replays it). Unreadable shards
    yield a single all-null member row."""

    def rows_of(p: bytes | None) -> list[tuple] | None:
        return [
            (j, key, ext, len(body), body)
            for j, (key, ext, body) in enumerate(_read_tar(p))
        ] or None

    return map_payloads(df, id_col, payload_col, TAR_MEMBER_FIELDS, rows_of)


SAMPLE_FIELDS = [
    T.StructField("sample_key", T.StringType()),
    T.StructField("n_members", T.LongType()),
    T.StructField(
        "parts", T.MapType(T.StringType(), T.BinaryType())
    ),
]


def webdataset_samples(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """One row per training sample: members grouped by key INSIDE the
    Arrow stage (WebDataset stores a sample's files adjacently, so no
    shuffle is needed) with an ``ext -> payload`` map column."""

    def rows_of(p: bytes | None) -> list[tuple] | None:
        rows = []
        cur_key, parts = None, {}
        for key, ext, body in _read_tar(p):
            if cur_key is not None and key != cur_key:
                rows.append((cur_key, len(parts), dict(parts)))
                parts = {}
            cur_key = key
            parts[ext] = body
        if cur_key is not None:
            rows.append((cur_key, len(parts), dict(parts)))
        return rows or None

    return map_payloads(df, id_col, payload_col, SAMPLE_FIELDS, rows_of)


def write_webdataset(
    samples: DataFrame,
    samples_per_shard: int = 1000,
    key_col: str = "sample_key",
    parts_col: str = "parts",
    seed: str = "wds",
) -> DataFrame:
    """Re-shard curated samples into WebDataset tar shards (r8, the
    write side of this module): the inverse of
    :func:`webdataset_samples`. Input is one row per sample with an
    ``ext -> payload`` map (exactly the ingest output, so
    select/filter stages compose in between); output is one row per
    shard: ``(shard_id, n_samples, n_bytes, payload)``.

    Shard assignment is DETERMINISTIC and size-bounded: samples get a
    dense global position ordered by ``md5(seed || ':' || key)``
    (:func:`quality.training_order` — the sharded-cumsum pattern, no
    single-task global window), and ``shard_id = pos //
    samples_per_shard`` — every shard holds exactly
    ``samples_per_shard`` samples except the last, and any engine can
    replay the assignment (the ``webdataset_roundtrip`` oracle does).
    The md5 order doubles as the epoch shuffle a training loader
    wants baked into shard layout.

    Packing keeps the WebDataset contract: one ``applyInPandas``
    group per shard sorts its samples by position and writes each
    sample's members ADJACENTLY (``key.ext``, extensions sorted,
    mtime 0 for byte-reproducibility). Payloads shuffle exactly once
    (into their shard group) and never visit the driver; a shard's
    bytes materialize only inside its one task, so executor memory
    bounds shard size, not corpus size — pick ``samples_per_shard``
    to target the usual ~1 GB shards.
    """

    def pack(pdf: pd.DataFrame) -> tuple[int, bytes]:
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tf:
            for key, parts in zip(pdf["sample_key"], pdf["parts"]):
                for ext in sorted(parts):
                    body = bytes(parts[ext])
                    info = tarfile.TarInfo(name=f"{key}.{ext}")
                    info.size = len(body)
                    info.mtime = 0
                    tf.addfile(info, io.BytesIO(body))
        return len(pdf), buf.getvalue()

    return pack_shards(
        _sample_rows(samples, key_col, parts_col),
        samples_per_shard,
        seed,
        "n_samples",
        pack,
    )


def _sample_rows(samples: DataFrame, key_col: str, parts_col: str) -> DataFrame:
    """The shard writers' input: ``(sample_key, parts)``."""
    return samples.select(
        F.col(key_col).alias("sample_key"), F.col(parts_col).alias("parts")
    )


def save_webdataset(shards: DataFrame, directory: str) -> None:
    """Write :func:`write_webdataset` shards as ``shard-{id:06d}.tar``
    files under ``directory``. Files are written executor-side inside
    ``foreachPartition`` (payloads never visit the driver), so the
    directory must be visible to every executor — true in local mode
    and on shared filesystems (NFS/FUSE); object stores want their
    own committer instead."""
    _save_shards(shards, directory, "tar")


def _save_shards(shards: DataFrame, directory: str, ext: str) -> None:
    """Write each shard's payload to ``shard-{id:06d}.{ext}`` under
    ``directory``, executor-side inside ``foreachPartition``."""
    import os

    os.makedirs(directory, exist_ok=True)

    def write_part(rows):
        for r in rows:
            p = os.path.join(directory, f"shard-{r['shard_id']:06d}.{ext}")
            with open(p, "wb") as f:
                f.write(bytes(r["payload"]))

    shards.select("shard_id", "payload").foreachPartition(write_part)


def make_webdataset_payload(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Deterministic WebDataset shard per row (fixture/oracle
    generator): ``2 + id % 3`` samples named ``s{id}_{k}``, each with
    a ``.txt`` member (the closed-form string
    ``"caption {id} {k}"``) and a ``.jpg`` member (the DC-only
    fixture JPEG of :func:`jpeg.encode_jpeg` — one 8x8 block, dc =
    ``((id * 5 + k * 9) % 160) - 80``), stored adjacently per the
    WebDataset contract."""
    from .jpeg import encode_jpeg

    def build_one(i: int) -> bytes:
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tf:
            for k in range(2 + i % 3):
                txt = f"caption {i} {k}".encode()
                dc = ((i * 5 + k * 9) % 160) - 80
                jpg = encode_jpeg(8, 8, [[[dc] + [0] * 63]])
                for ext, body in (("txt", txt), ("jpg", jpg)):
                    info = tarfile.TarInfo(name=f"s{i}_{k}.{ext}")
                    info.size = len(body)
                    info.mtime = 0
                    tf.addfile(info, io.BytesIO(body))
        return buf.getvalue()

    return build_payloads(df, id_col, payload_col, build_one)


# ---------------------------------------------------------------------------
# ZIP shards (r10) — the other archive container real datasets ship in
# ---------------------------------------------------------------------------
#: what a corrupt, encrypted or unsupported ZIP shard raises mid-walk
_ZIP_ERRORS = (
    zipfile.BadZipFile,
    ValueError,
    OSError,
    EOFError,
    NotImplementedError,  # unsupported compression
    RuntimeError,  # encrypted member
    zlib.error,  # corrupt DEFLATE stream mid-read
    struct.error,  # truncated fixed-size record
)


def _zip_read(
    p: bytes | None, cap: int, wanted=lambda filename: True
) -> list[tuple[str, bytes]] | None:
    """``(filename, body)`` of each regular member of a ZIP shard that
    ``wanted(filename)`` accepts, in central-directory order, or
    ``None`` for a null, unreadable or over-cap shard. Decompression
    bombs are capped like the WARC gzip path (ADVICE r10): a member
    whose declared ``file_size`` — which ``zipfile`` enforces as the
    inflate output bound — exceeds ``cap``, or accepted members that
    cumulatively exceed it, give ``None`` instead of expanding
    unbounded into executor memory (the 42.zip shape). Callers pass
    :data:`warc.MAX_DECODED_BYTES` as read on the driver."""
    if p is None:
        return None
    members = []
    try:
        with zipfile.ZipFile(io.BytesIO(bytes(p))) as zf:
            total = 0
            for info in zf.infolist():
                if info.is_dir() or not wanted(info.filename):
                    continue
                total += info.file_size
                if info.file_size > cap or total > cap:
                    return None
                members.append((info.filename, zf.read(info)))
    except _ZIP_ERRORS:
        return None
    return members


def zip_samples(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """ZIP-shard ingest: the ``zipfile`` counterpart of
    :func:`webdataset_samples` — one row per training sample with the
    same ``(sample_key, n_members, ext -> payload)`` shape, so
    downstream decode/select stages compose identically over tar and
    zip corpora. Unlike tar, ZIP's central directory does NOT
    guarantee member adjacency, so samples group per archive via a
    key-ordered dict accumulation — bounded by the shard size, the
    same memory envelope as the tar walk. STORED and DEFLATED members
    both decode (stdlib inflate); encrypted, corrupt or over-cap
    archives (the decompression-bomb cap of :func:`_zip_read`) yield
    one attributable null row, never a stage failure. The sample key
    is the basename up to its LAST dot."""
    from .warc import MAX_DECODED_BYTES

    def rows_of(p: bytes | None) -> list[tuple] | None:
        members = _zip_read(
            p, MAX_DECODED_BYTES, lambda fn: "." in fn.rsplit("/", 1)[-1]
        )
        if members is None:
            return None
        samples: dict[str, dict] = {}
        for filename, body in members:
            key, ext = filename.rsplit("/", 1)[-1].rsplit(".", 1)
            samples.setdefault(key, {})[ext] = body
        return [
            (key, len(samples[key]), dict(samples[key]))
            for key in sorted(samples)
        ] or None

    return map_payloads(df, id_col, payload_col, SAMPLE_FIELDS, rows_of)


def make_zip_payload(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Build a deterministic REAL ZIP shard per row (fixture/oracle
    generator): ``2 + id % 3`` samples, each a ``z{id}_{k}.txt``
    caption plus a ``z{id}_{k}.json`` metadata string — both
    closed-form strings DuckDB states outright. Odd ids compress
    with DEFLATE, even ids STORE, so both decompression arms of the
    reader genuinely run; timestamps pin to the DOS epoch for
    byte-stable output."""
    def build_one(i: int) -> bytes:
        comp = zipfile.ZIP_DEFLATED if i % 2 else zipfile.ZIP_STORED
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", compression=comp) as zf:
            for k in range(2 + i % 3):
                for ext, body in (
                    ("txt", f"caption {i} {k}"),
                    (
                        "json",
                        '{"id":%d,"k":%d,"n":%d}'
                        % (i, k, 10 + (i + k) % 50),
                    ),
                ):
                    info = zipfile.ZipInfo(
                        f"z{i}_{k}.{ext}",
                        date_time=(1980, 1, 1, 0, 0, 0),
                    )
                    info.compress_type = comp
                    zf.writestr(info, body)
        return buf.getvalue()

    return build_payloads(df, id_col, payload_col, build_one)


def zip_members(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Explode a ZIP-shard binary column into one row per regular
    member in CENTRAL-DIRECTORY ORDER (which is write order for
    shards produced by :func:`write_zip_shards`, so shard layout is
    checkable downstream — the ``zip_roundtrip`` oracle replays it):
    ``(id_col, member_idx, sample_key, ext, n_bytes, member)``, the
    exact :func:`tar_members` shape so the two container families
    share every downstream stage. Member bodies honor the same
    decompression-bomb cap as :func:`zip_samples`; unreadable or
    over-cap shards yield a single all-null member row."""
    from .warc import MAX_DECODED_BYTES

    def rows_of(p: bytes | None) -> list[tuple] | None:
        members = _zip_read(p, MAX_DECODED_BYTES)
        if members is None:
            return None
        return [
            (j, *_split_key(name), len(body), body)
            for j, (name, body) in enumerate(members)
        ] or None

    return map_payloads(df, id_col, payload_col, TAR_MEMBER_FIELDS, rows_of)


def write_zip_shards(
    samples: DataFrame,
    samples_per_shard: int = 1000,
    key_col: str = "sample_key",
    parts_col: str = "parts",
    seed: str = "zip",
    compress: bool = False,
) -> DataFrame:
    """Re-shard curated samples into ZIP shards — the ``zipfile``
    counterpart of :func:`write_webdataset`, closing the ZIP
    container's read-curate-write loop (the r10 verdict's open
    item). Input is one row per sample with an ``ext -> payload``
    map (exactly the :func:`zip_samples` /
    :func:`webdataset_samples` output); output is one row per shard:
    ``(shard_id, n_samples, n_bytes, payload)``.

    Shard assignment is the SAME deterministic md5-order scheme as
    the tar writer (``quality.training_order`` over
    ``md5(seed || ':' || key)``, ``shard_id = pos //
    samples_per_shard``) so any engine can replay it — the
    ``zip_roundtrip`` oracle does, cell for cell, including the
    within-shard member order. Members are written ADJACENTLY per
    sample (``key.ext``, extensions sorted) with timestamps pinned
    to the DOS epoch (1980-01-01, ZIP's time floor) and
    ``create_system`` pinned, so output bytes are stable across
    hosts and runs. ``compress=False`` (STORED) keeps shards
    byte-identical across zlib builds; ``compress=True`` uses
    DEFLATED where size matters more than byte equality.

    Scale shape: identical to the tar writer — payloads shuffle
    exactly once into their shard's ``applyInPandas`` group and
    never visit the driver; executor memory bounds shard size, not
    corpus size. Shards past 4 GB or 65535 members get ZIP64
    records automatically (stdlib ``allowZip64`` default), which
    ``zip_samples`` / ``zip_members`` read back transparently."""
    comp = zipfile.ZIP_DEFLATED if compress else zipfile.ZIP_STORED

    def pack(pdf: pd.DataFrame) -> tuple[int, bytes]:
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", compression=comp) as zf:
            for key, parts in zip(pdf["sample_key"], pdf["parts"]):
                for ext in sorted(parts):
                    info = zipfile.ZipInfo(
                        f"{key}.{ext}", date_time=(1980, 1, 1, 0, 0, 0)
                    )
                    info.compress_type = comp
                    info.create_system = 3  # byte-stable across hosts
                    zf.writestr(info, bytes(parts[ext]))
        return len(pdf), buf.getvalue()

    return pack_shards(
        _sample_rows(samples, key_col, parts_col),
        samples_per_shard,
        seed,
        "n_samples",
        pack,
    )


def save_zip_shards(shards: DataFrame, directory: str) -> None:
    """Write :func:`write_zip_shards` output as ``shard-{id:06d}.zip``
    files under ``directory`` — executor-side ``foreachPartition``,
    same visibility caveats as :func:`save_webdataset`."""
    _save_shards(shards, directory, "zip")
