"""WARC (ISO 28500) ingestion containers — the format web-scale LLM
corpora actually arrive in (Common Crawl ships WARC/WET/WAT).

Reference basis: the reference loads flat CSVs (upload_file.py:118);
a training-data engine at 100 TB ingests crawl archives, so this
module adds the container layer the reference never needed: a real
WARC record walker (version line, CRLF header block, Content-Length
framing, double-CRLF record terminators), the multi-member-gzip
packaging Common Crawl uses (each record an independent gzip member,
so a reader can seek to a record without inflating the whole file),
and HTTP-response payload splitting for ``response`` records.

Scale shape: files arrive as opaque ``binary`` payloads in a
DataFrame column; every container stage is one
:func:`multimodal.map_rows` call (Arrow-batched, inside the scan's
partitions — no shuffle, many files per task; a row with a NULL
id or payload gives no output row). On a real cluster the same
parser runs over ``spark.read.format("binaryFile")`` output
unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .multimodal import _synthesize, decode_png, encode_png_gray, map_rows

_CRLF = b"\r\n"


def encode_warc(records, *, gzip_members: bool = False) -> bytes:
    """Serialize ``records`` — dicts with ``type``, ``uri`` (optional),
    ``content`` (bytes) — as a spec-framed WARC file. With
    ``gzip_members=True`` every record becomes its own gzip member
    (Common Crawl's .warc.gz packaging: members concatenate into one
    stream a naive ``gzip.decompress`` still reads, while a
    record-aware reader can inflate one member at a time)."""
    import gzip

    out = bytearray()
    for i, rec in enumerate(records):
        content = bytes(rec["content"])
        head = bytearray(b"WARC/1.0\r\n")
        head += b"WARC-Type: " + rec["type"].encode() + _CRLF
        head += (
            b"WARC-Record-ID: <urn:uuid:rec-" + str(i).encode() + b">" + _CRLF
        )
        if rec.get("uri"):
            head += b"WARC-Target-URI: " + rec["uri"].encode() + _CRLF
        head += b"WARC-Date: 2024-01-01T00:00:00Z" + _CRLF
        head += b"Content-Length: " + str(len(content)).encode() + _CRLF
        head += _CRLF
        framed = bytes(head) + content + _CRLF + _CRLF
        if gzip_members:
            out += gzip.compress(framed, mtime=0)
        else:
            out += framed
    return bytes(out)


def _gunzip_members(payload: bytes) -> bytes:
    """Inflate a multi-member gzip stream member by member — the
    record-at-a-time structure Common Crawl relies on. A trailing
    partial member is a truncation error, not silent data loss."""
    import zlib

    out = bytearray()
    rest = payload
    while rest:
        d = zlib.decompressobj(wbits=31)  # gzip wrapper
        out += d.decompress(rest)
        out += d.flush()
        if not d.eof:
            raise ValueError("corrupt WARC: truncated gzip member")
        rest = d.unused_data
    return bytes(out)


def parse_warc(payload: bytes) -> list[dict]:
    """Walk a WARC file (plain or multi-member gzip) and return one
    dict per record: ``type``, ``uri`` (or None), ``headers`` (the
    WARC header map) and ``content`` (the Content-Length-framed
    bytes). Framing violations raise ValueError by name."""
    if payload[:2] == b"\x1f\x8b":
        payload = _gunzip_members(payload)
    records = []
    pos, n = 0, len(payload)
    while pos < n:
        end_line = payload.find(_CRLF, pos)
        if end_line < 0:
            raise ValueError("corrupt WARC: unterminated version line")
        version = payload[pos:end_line]
        if not version.startswith(b"WARC/"):
            raise ValueError(
                f"corrupt WARC: record starts with {version[:20]!r}, "
                "not a WARC/ version line"
            )
        head_end = payload.find(_CRLF + _CRLF, end_line)
        if head_end < 0:
            raise ValueError("corrupt WARC: unterminated header block")
        headers: dict[str, str] = {}
        for line in payload[end_line + 2 : head_end].split(_CRLF):
            name, sep, value = line.partition(b":")
            if not sep:
                raise ValueError(
                    f"corrupt WARC: malformed header line {line[:40]!r}"
                )
            headers[name.decode().strip().lower()] = value.decode().strip()
        try:
            clen = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError("corrupt WARC: missing/bad Content-Length")
        body_start = head_end + 4
        body_end = body_start + clen
        if payload[body_end : body_end + 4] != _CRLF + _CRLF:
            raise ValueError(
                "corrupt WARC: record not terminated by CRLFCRLF after "
                "Content-Length bytes"
            )
        records.append(
            {
                "type": headers.get("warc-type", ""),
                "uri": headers.get("warc-target-uri"),
                "headers": headers,
                "content": payload[body_start:body_end],
            }
        )
        pos = body_end + 4
    return records


def http_response_body(content: bytes) -> bytes:
    """Split a ``response`` record's HTTP message: validate the status
    line, skip the header block, return the body."""
    if not content.startswith(b"HTTP/"):
        raise ValueError(
            f"response record does not carry HTTP: {content[:20]!r}"
        )
    sep = content.find(_CRLF + _CRLF)
    if sep < 0:
        raise ValueError("corrupt HTTP response: no header terminator")
    return content[sep + 4 :]


def extract_warc_text(payload: bytes) -> list[tuple[str, str]]:
    """The WET-style extraction: for every content-bearing record,
    ``(type, text)`` — ``conversion`` records are already text, and
    ``response`` records yield their HTTP body; ``warcinfo`` /
    ``metadata`` / other bookkeeping records are skipped."""
    return _record_texts(parse_warc(payload))


def _record_texts(records: list[dict]) -> list[tuple[str, str]]:
    """:func:`extract_warc_text` over already-parsed records."""
    out = []
    for rec in records:
        if rec["type"] == "conversion":
            out.append(("conversion", rec["content"].decode("utf-8")))
        elif rec["type"] == "response":
            out.append(
                ("response", http_response_body(rec["content"]).decode("utf-8"))
            )
    return out


def synthesize_warc_files(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic WARC payloads (r16): file ``id`` opens with a
    ``warcinfo`` record and carries ``2 + id%3`` content records —
    record r is a ``conversion`` (plain text) when ``(id + r)`` is
    even, else a ``response`` wrapping the SAME text as an HTTP/1.1
    200 body; the text is ``10 + (id + r) % 7`` space-joined tokens
    ``t<(id*7 + r*3 + j) % 13>``. Odd ids package as multi-member
    gzip (.warc.gz), even ids as plain WARC. Every byte is
    closed-form, so the c224 oracle replays the extraction in SQL."""

    def encode(i: int) -> bytes:
        records = [
            {
                "type": "warcinfo",
                "content": b"software: amazonredshift-blueprints-spark",
            }
        ]
        for r in range(2 + i % 3):
            text = " ".join(
                f"t{(i * 7 + r * 3 + j) % 13}" for j in range(10 + (i + r) % 7)
            ).encode()
            uri = f"http://example.com/{i}/{r}"
            if (i + r) % 2 == 0:
                records.append({"type": "conversion", "uri": uri, "content": text})
            else:
                http = (
                    b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
                    b"Content-Length: " + str(len(text)).encode()
                    + b"\r\n\r\n" + text
                )
                records.append({"type": "response", "uri": uri, "content": http})
        return encode_warc(records, gzip_members=bool(i % 2))

    return _synthesize(df, id_col, encode)


def encode_webdataset(samples) -> bytes:
    """Serialize ``samples`` — dicts mapping extension → bytes, plus a
    ``__key__`` — as a WebDataset tar shard: for each sample, one tar
    member per extension named ``<key>.<ext>``, members of one sample
    adjacent (the format's streaming contract). Plain USTAR via the
    stdlib, deterministic metadata (zeroed mtime/uid)."""
    import io
    import tarfile

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for sample in samples:
            key = sample["__key__"]
            for ext, data in sample.items():
                if ext == "__key__":
                    continue
                info = tarfile.TarInfo(name=f"{key}.{ext}")
                info.size = len(data)
                info.mtime = 0
                tf.addfile(info, io.BytesIO(bytes(data)))
    return buf.getvalue()


def parse_webdataset(payload: bytes) -> list[dict]:
    """Group a WebDataset tar shard's members back into samples: the
    key is the member name up to the FIRST dot past the last slash
    (WebDataset's rule — multi-dot extensions like ``seg.png`` stay
    with the extension), consecutive members sharing a key form one
    sample. A key seen again after a different key intervened is a
    spec violation (samples must be stored contiguously for streaming
    readers) and refuses by name."""
    import io
    import tarfile

    samples: list[dict] = []
    seen: set[str] = set()
    current: dict | None = None
    with tarfile.open(fileobj=io.BytesIO(payload), mode="r") as tf:
        for member in tf:
            if not member.isfile():
                continue
            base = member.name.rsplit("/", 1)[-1]
            dot = base.find(".")
            if dot <= 0:
                raise ValueError(
                    f"webdataset member {member.name!r} has no extension"
                )
            prefix = member.name[: len(member.name) - (len(base) - dot)]
            ext = base[dot + 1 :]
            if current is None or current["__key__"] != prefix:
                if prefix in seen:
                    raise ValueError(
                        f"webdataset sample {prefix!r} is not contiguous "
                        "(members of one sample must be adjacent)"
                    )
                seen.add(prefix)
                current = {"__key__": prefix}
                samples.append(current)
            current[ext] = tf.extractfile(member).read()
    return samples


def synthesize_webdataset_shards(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic WebDataset tar shards (r16): shard ``id`` holds
    ``2 + id%3`` samples; sample s (key ``<id>-<s>``) carries a .cls
    label ``(id + s) % 10`` as ASCII, a .txt of ``5 + (id+s) % 4``
    tokens ``w<(id*5 + s*7 + j) % 11>``, and a .png — a REAL 8-bit
    grayscale PNG of (3 + s%2) x 4 closed-form pixels ``(id*29 + s*13
    + r*7 + c*3) % 256`` through the r14 PNG encoder. Every byte is
    closed-form, so the c225 oracle replays label/text/pixel stats in
    SQL."""
    import numpy as np

    def encode(i: int) -> bytes:
        samples = []
        for s in range(2 + i % 3):
            r = np.arange(3 + s % 2)[:, None]
            c = np.arange(4)[None, :]
            px = ((i * 29 + s * 13 + r * 7 + c * 3) % 256).astype(np.uint8)
            text = " ".join(
                f"w{(i * 5 + s * 7 + j) % 11}" for j in range(5 + (i + s) % 4)
            )
            samples.append(
                {
                    "__key__": f"{i}-{s}",
                    "cls": str((i + s) % 10).encode(),
                    "txt": text.encode(),
                    "png": encode_png_gray(px),
                }
            )
        return encode_webdataset(samples)

    return _synthesize(df, id_col, encode)


def webdataset_stats(shards: DataFrame) -> DataFrame:
    """Parse a (doc_id, payload) frame of WebDataset tar shards and
    reduce to exact integer statistics over all three modalities:
    sample count, label sum (.cls), token count and text length
    (.txt), and the pixel sum of every .png decoded through the REAL
    PNG decoder (gray replicates to RGB; channel 0 is summed).
    Arrow-batched inside the scan's partitions — no shuffle."""
    import numpy as np

    def stats(doc_id: int, payload: bytes):
        samples = parse_webdataset(payload)
        label_sum = n_tokens = text_len = px_sum = 0
        for smp in samples:
            label_sum += int(smp["cls"])
            text = smp["txt"].decode()
            n_tokens += len(text.split())
            text_len += len(text)
            px_sum += int(decode_png(smp["png"]).astype(np.int64)[:, :, 0].sum())
        yield (doc_id, len(samples), label_sum, n_tokens, text_len, px_sum)

    return map_rows(
        shards,
        ["doc_id", "payload"],
        stats,
        "doc_id long, n_samples long, label_sum long, "
        "n_tokens long, text_len long, px_sum long",
    )


def warc_extract_stats(files: DataFrame) -> DataFrame:
    """Parse a (doc_id, payload) frame of WARC files and reduce the
    WET-style text extraction to exact integer statistics: record
    counts by kind plus total extracted text length and whitespace
    token count. Arrow-batched inside the scan's partitions — no
    shuffle; on a cluster the input column comes straight from
    ``spark.read.format('binaryFile')``."""

    def stats(doc_id: int, payload: bytes):
        recs = parse_warc(payload)
        texts = _record_texts(recs)
        yield (
            doc_id,
            len(recs),
            sum(1 for k, _ in texts if k == "conversion"),
            sum(1 for k, _ in texts if k == "response"),
            sum(len(t) for _, t in texts),
            sum(len(t.split()) for _, t in texts),
        )

    return map_rows(
        files,
        ["doc_id", "payload"],
        stats,
        "doc_id long, n_records long, n_conversion long, "
        "n_response long, sum_text_len long, n_tokens long",
    )


def encode_zip(members, *, comment: bytes = b"") -> bytes:
    """Serialize ``members`` — ``(name, data, method)`` with method
    ``0`` (stored) or ``8`` (deflate) — as a PKZIP archive: local file
    headers + central directory + end-of-central-directory record.
    Written from the spec (APPNOTE 4.4.x), NOT via ``zipfile``, so the
    pytest cross-validation against CPython's zipfile is a genuinely
    independent interchange check in both directions."""
    import struct
    import zlib

    locals_, centrals, out, offset = [], [], [], 0
    for name, data, method in members:
        nb = name.encode()
        crc = zlib.crc32(data) & 0xFFFFFFFF
        if method == 0:
            payload = data
        elif method == 8:
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            payload = co.compress(data) + co.flush()
        else:
            raise ValueError(f"encode_zip: method {method} (0/8 only)")
        lfh = (
            b"PK\x03\x04"
            + struct.pack(
                "<HHHHHIIIHH",
                20, 0, method, 0, 0x21, crc, len(payload), len(data),
                len(nb), 0,
            )
            + nb
        )
        centrals.append(
            b"PK\x01\x02"
            + struct.pack(
                "<HHHHHHIIIHHHHHII",
                20, 20, 0, method, 0, 0x21, crc, len(payload),
                len(data), len(nb), 0, 0, 0, 0, 0, offset,
            )
            + nb
        )
        out.append(lfh + payload)
        offset += len(lfh) + len(payload)
    cd = b"".join(centrals)
    eocd = (
        b"PK\x05\x06"
        + struct.pack(
            "<HHHHIIH",
            0, 0, len(members), len(members), len(cd), offset,
            len(comment),
        )
        + comment
    )
    return b"".join(out) + cd + eocd


def parse_zip(payload: bytes) -> list[dict]:
    """Walk a PKZIP archive the robust way — locate the end-of-central-
    directory record from the tail (scanning back over a trailing
    comment), read the CENTRAL directory for the authoritative member
    list/sizes/offsets (so data-descriptor streams parse fine), then
    inflate each member from its local header: stored (0) and deflate
    (8), CRC32-verified. Returns dicts with ``name``, ``method``,
    ``size``, ``data``. Encrypted members and ZIP64 refuse by name."""
    import struct
    import zlib

    tail = payload[-(0xFFFF + 22):]
    # scan BACKWARD for an EOCD whose comment length exactly reaches
    # the file end — a bare rfind would bite on the signature bytes
    # occurring inside a comment or a deflate stream
    at = tail.rfind(b"PK\x05\x06")
    while at >= 0:
        if len(tail) >= at + 22:
            (clen,) = struct.unpack("<H", tail[at + 20:at + 22])
            if at + 22 + clen == len(tail):
                break
        at = tail.rfind(b"PK\x05\x06", 0, at)
    if at < 0:
        raise ValueError("not a ZIP archive (no end-of-central-directory)")
    eocd = tail[at:]
    (n_disk, n_total, cd_size, cd_off) = struct.unpack(
        "<HHII", eocd[8:20]
    )
    if n_disk == 0xFFFF or cd_off == 0xFFFFFFFF:
        raise NotImplementedError(
            "ZIP64 archives; production swap-in: zipfile/stream-unzip"
        )
    members = []
    pos = cd_off
    for _ in range(n_disk):
        if payload[pos:pos + 4] != b"PK\x01\x02":
            raise ValueError("corrupt ZIP: bad central-directory entry")
        (
            _vmade, _vneed, flags, method, _t, _d, crc, csize, usize,
            nlen, xlen, clen, _dk, _ia, _ea, lfh_off,
        ) = struct.unpack("<HHHHHHIIIHHHHHII", payload[pos + 4:pos + 46])
        name = payload[pos + 46:pos + 46 + nlen].decode("utf-8")
        if flags & 0x1:
            raise NotImplementedError(
                f"encrypted ZIP member {name!r}"
            )
        if method not in (0, 8):
            raise NotImplementedError(
                f"ZIP compression method {method} on {name!r} "
                "(stored/deflate decode here)"
            )
        # local header: re-read name/extra lengths (they can differ
        # from the central copy) to find the data start
        if payload[lfh_off:lfh_off + 4] != b"PK\x03\x04":
            raise ValueError(f"corrupt ZIP: bad local header for {name!r}")
        lnlen, lxlen = struct.unpack(
            "<HH", payload[lfh_off + 26:lfh_off + 30]
        )
        data_at = lfh_off + 30 + lnlen + lxlen
        raw = payload[data_at:data_at + csize]
        if len(raw) != csize:
            raise ValueError(f"corrupt ZIP: truncated member {name!r}")
        data = raw if method == 0 else zlib.decompress(raw, -15)
        if len(data) != usize:
            raise ValueError(f"corrupt ZIP: size mismatch on {name!r}")
        if (zlib.crc32(data) & 0xFFFFFFFF) != crc:
            raise ValueError(f"corrupt ZIP: CRC mismatch on {name!r}")
        members.append(
            {"name": name, "method": method, "size": usize, "data": data}
        )
        pos += 46 + nlen + xlen + clen
    return members


def synthesize_zip_archives(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic ZIP payloads: ``2 + id % 3`` text members named
    ``m<k>.txt`` alternating stored/deflate, member ``k`` holding
    ``8 + (id + k) % 9`` space-joined tokens ``w<(id*7 + k*5 + j*3) %
    97>`` — token numbers replay arithmetically in the c235 oracle.
    Every archive carries a comment (the EOCD tail scan runs on each
    payload)."""

    def encode(i: int) -> bytes:
        members = []
        for k in range(2 + i % 3):
            text = " ".join(
                f"w{(i * 7 + k * 5 + j * 3) % 97}" for j in range(8 + (i + k) % 9)
            )
            members.append((f"m{k}.txt", text.encode(), 0 if k % 2 == 0 else 8))
        return encode_zip(members, comment=f"archive {i}".encode())

    return _synthesize(df, id_col, encode)


def zip_extract_stats(files: DataFrame) -> DataFrame:
    """REAL ZIP walk + member text featurize: per archive the member
    count by method, total uncompressed bytes, and the token-number
    sum across all text members. Arrow-batched ``mapInPandas`` inside
    the scan's partitions — no shuffle."""

    def stats(doc_id: int, payload: bytes):
        members = parse_zip(payload)
        yield (
            doc_id,
            len(members),
            sum(1 for m in members if m["method"] == 0),
            sum(1 for m in members if m["method"] == 8),
            sum(m["size"] for m in members),
            sum(int(w[1:]) for m in members for w in m["data"].decode().split()),
        )

    return map_rows(
        files,
        ["doc_id", "payload"],
        stats,
        "doc_id long, n_members long, n_stored long, n_deflated long, "
        "total_bytes long, token_sum long",
    )


def synthesize_web_warc_files(df: DataFrame, id_col: str) -> DataFrame:
    """WARC files carrying one HTTP-response record per doc for the
    c240 end-to-end web-curation pipeline: a NOISY target URI
    (``www.``, ``:443``, ``utm_`` — c227's cleanup classes), an HTML
    body with script noise, entities and ``1 + id % 4`` links (c239's
    extraction classes), the paragraph text MOJIBAKE-corrupted for
    ``id % 4 == 0`` (c237's repair class), and gzip-member packaging
    for odd ids (c224's Common Crawl layout)."""

    cafe = "café número"
    moji = cafe.encode("utf-8").decode("latin-1")

    def encode(i: int) -> bytes:
        links = "".join(f'<a href="/x{j}">l{j}</a> ' for j in range(1 + i % 4))
        mid = moji if i % 4 == 0 else cafe
        body = (
            f"<html><head><title>Doc {i}</title>"
            '<script>if (1<2) { var s = "</p>"; }</script>'
            f"</head><body><!-- nav -->{links}"
            f"<p>tok{i % 50} &amp; {mid} {(i + 1) % 50}</p>"
            "</body></html>"
        ).encode("utf-8")
        content = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Length: " + str(len(body)).encode()
            + b"\r\n\r\n" + body
        )
        url = f"https://www.site{i % 13}.com:443/p{i % 7}/q{i % 5}?utm_source=x"
        return encode_warc(
            [{"type": "response", "uri": url, "content": content}],
            gzip_members=bool(i % 2),
        )

    return _synthesize(df, id_col, encode)


def warc_pages(files: DataFrame) -> DataFrame:
    """Container-parse stage of the web pipeline: each WARC payload's
    ``response`` records yield ``(doc_id, url, html)`` rows — the ONE
    Python stage (container walking is inherently imperative); every
    downstream transform runs as JVM expressions."""

    def pages(doc_id: int, payload: bytes):
        for rec in parse_warc(payload):
            if rec["type"] == "response":
                yield (
                    doc_id,
                    rec["uri"],
                    http_response_body(rec["content"]).decode("utf-8"),
                )

    return map_rows(
        files, ["doc_id", "payload"], pages, "doc_id long, url string, html string"
    )


def parse_cdxj(df: DataFrame, *, line_col: str = "line") -> DataFrame:
    """Parse CDXJ capture-index lines — the format Common Crawl's
    per-crawl URL indexes ship in (``<SURT key> <14-digit timestamp>
    <JSON>``): the JSON blob carries url/mime/status/digest and the
    WARC coordinates (filename, offset, length) a fetcher seeks with.
    Entirely JVM-side: one ``split`` (limit 3 — the JSON may itself
    contain spaces) + ``from_json`` projection, row-local, zero
    Python; ``length``/``offset`` surface as BIGINT for arithmetic."""
    parts = F.split(F.col(line_col), " ", 3)
    meta = F.from_json(
        parts[2],
        "url string, mime string, status string, digest string, "
        "length string, offset string, filename string",
    )
    return df.select(
        "*",
        parts[0].alias("surt"),
        parts[1].alias("capture_ts"),
        meta["url"].alias("url"),
        meta["mime"].alias("mime"),
        meta["status"].alias("status"),
        meta["digest"].alias("digest"),
        meta["length"].cast("long").alias("length"),
        meta["offset"].cast("long").alias("offset"),
        meta["filename"].alias("filename"),
    )
