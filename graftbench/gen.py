"""Seeded input generators: a legacy pcap capture and a dedup corpus.

Both are pure functions of the seed. Each writes its own ground truth
next to the input, so the checks never trust the engine to describe
its own input.

Capture bytes are chosen so that the engine's Metamako heuristic can
only fire on planted trailers: no byte outside a trailer equals 0x65,
the top byte of every timestamp near ``BASE_TS``, and every semantic
field (addresses, ports) avoids it too. The ground truth is therefore
exactly what the generator planted.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS = 1_700_000_000  # 0x6553F100: top byte 0x65
_TS_BYTE = BASE_TS >> 24
_TRAILER_FCS = np.frombuffer(b"\xde\xad\xbe\xef", dtype=np.uint8)

# L2 kinds
_IPV4, _VLAN, _IPV6, _ARP, _RUNT = range(5)
# IPv4 protocol mix of the flow table: TCP, UDP, ICMP, IGMP, GRE (unnamed)
_PROTOS = np.array([6, 17, 1, 2, 47])
_PROTO_P = np.array([0.68, 0.22, 0.06, 0.01, 0.03])
_TCP_DPORTS = np.array([443, 80, 22, 25, 8080, 993, 3306])
_TCP_DPORT_P = np.array([0.45, 0.2, 0.05, 0.03, 0.05, 0.02, 0.2])
_UDP_DPORTS = np.array([53, 123, 443, 514, 5353])


def _no65(rng: np.random.Generator, size, lo: int = 0, hi: int = 256) -> np.ndarray:
    """Uniform bytes in [lo, hi) except 0x65."""
    b = rng.integers(lo, hi - 1, size=size, dtype=np.int64)
    b[b >= _TS_BYTE] += 1
    return b


def _u32(rng: np.random.Generator, n: int, first_octet: np.ndarray) -> np.ndarray:
    o = _no65(rng, (n, 3))
    return (first_octet << 24) | (o[:, 0] << 16) | (o[:, 1] << 8) | o[:, 2]


def _port(rng: np.random.Generator, n: int) -> np.ndarray:
    """Ephemeral ports 1024..65535 with neither byte 0x65."""
    p = rng.integers(1024, 65536, size=n, dtype=np.int64)
    hi, lo = p >> 8, p & 255
    hi[hi == _TS_BYTE] += 1
    lo[lo == _TS_BYTE] += 1
    return (hi << 8) | lo


def _scatter_be(buf: np.ndarray, pos: np.ndarray, val: np.ndarray, nbytes: int) -> None:
    for k in range(nbytes):
        buf[pos + k] = (val >> (8 * (nbytes - 1 - k))) & 255


def make_capture(seed: int, n_packets: int, out_dir: str) -> None:
    """Write ``capture.pcap`` and ``truth.parquet`` under ``out_dir``.

    The capture is little-endian microsecond legacy pcap spanning one
    hour. Traffic: ~30k directional flows over 4k hosts with Zipf packet
    counts; L2 mix of plain/VLAN IPv4, IPv6 and ARP (reference-NULL) and
    runts; TCP/UDP/ICMP/IGMP/GRE; IHL 5 and 6; some truncated L4 and
    snaplen-cut records; Metamako trailers plain, before an FCS, and
    stacked two deep (the inner one wins). ``truth.parquet`` holds the
    packet table as numbers: IPs as u32, protocol as its IP number.
    """
    rng = np.random.default_rng([seed, 1])
    n = n_packets

    # hosts and flows
    n_hosts = 4096
    first = np.where(rng.random(n_hosts) < 0.8, 10, _no65(rng, n_hosts, 11, 224))
    hosts = _u32(rng, n_hosts, first)
    n_flows = 30_000
    f_src = rng.integers(0, n_hosts, n_flows)
    f_dst = (f_src + rng.integers(1, n_hosts, n_flows)) % n_hosts
    f_proto = rng.choice(_PROTOS, n_flows, p=_PROTO_P)
    f_sport = _port(rng, n_flows)
    f_dport = np.where(
        f_proto == 6,
        rng.choice(_TCP_DPORTS, n_flows, p=_TCP_DPORT_P),
        rng.choice(_UDP_DPORTS, n_flows),
    )
    # a fifth of TCP/UDP flows are the server's replies: ports swapped
    reply = rng.random(n_flows) < 0.2
    f_sport, f_dport = np.where(reply, f_dport, f_sport), np.where(reply, f_sport, f_dport)
    weight = 1.0 / np.arange(1, n_flows + 1) ** 0.9
    flow = rng.permutation(n_flows)[
        np.minimum(np.searchsorted(np.cumsum(weight / weight.sum()), rng.random(n)), n_flows - 1)
    ]

    kind = rng.choice(5, n, p=[0.85, 0.095, 0.03, 0.02, 0.005])
    is_v4 = (kind == _IPV4) | (kind == _VLAN)
    proto = np.where(is_v4, f_proto[flow], 0)
    ihl = np.where(rng.random(n) < 0.05, 24, 20)
    l2 = np.where(kind == _VLAN, 18, 14)
    l4_hdr = np.where(proto == 6, 20, 8)
    has_ports = is_v4 & ((proto == 6) | (proto == 17))
    l4_cut = has_ports & (rng.random(n) < 0.003)  # only 2 bytes of L4 captured

    # payload sizes: mostly ACK-sized frames, a tail of full ones
    r = rng.random(n)
    payload = np.where(
        r < 0.7, rng.integers(0, 16, n),
        np.where(r < 0.95, rng.integers(16, 160, n), rng.integers(160, 1400, n)),
    )
    body = np.where(is_v4, l2 + ihl + np.where(l4_cut, 2, l4_hdr + payload), l2 + 28 + payload)
    body = np.where(kind == _RUNT, 10, body)

    snap = is_v4 & ~l4_cut & (rng.random(n) < 0.01)  # captured 96 of >= 400 bytes
    body = np.where(snap, np.maximum(body, 400), body)
    plain = ~snap & ~l4_cut & (kind != _RUNT)
    t = rng.random(n)
    tr1 = plain & (t < 0.40)  # trailer at the end
    trf = plain & (t >= 0.40) & (t < 0.45)  # trailer, then an FCS
    tr2 = plain & (t >= 0.45) & (t < 0.452) & (body <= 128)  # two stacked
    fcs = plain & (t >= 0.45) & (t < 0.65) & ~tr2  # FCS only
    tail = np.where(tr1, 16, 0) + np.where(trf, 20, 0) + np.where(tr2, 32, 0) + np.where(fcs, 4, 0)
    orig = body + tail
    incl = np.where(snap, 96, orig)

    ts_off = np.sort(rng.integers(0, 3600 * 10**6, n))
    ts_sec = BASE_TS + ts_off // 10**6
    ts_usec = ts_off % 10**6

    rec = 24 + np.concatenate(([0], np.cumsum(16 + incl)[:-1]))
    size = int(24 + (16 + incl).sum())
    buf = np.frombuffer(rng.bytes(size), np.uint8).copy()
    buf[buf == _TS_BYTE] += 1
    buf[:24] = np.frombuffer(struct.pack("<IHHiIII", 0xA1B2C3D4, 2, 4, 0, 0, 65535, 1), np.uint8)
    hdr = np.stack([ts_sec, ts_usec, incl, orig], axis=1).astype("<u4").view(np.uint8)
    buf[rec[:, None] + np.arange(16)] = hdr
    d = rec + 16

    # L2
    ethertype = np.choose(kind, [0x0800, 0x8100, 0x86DD, 0x0806, 0x0800])
    m = kind != _RUNT
    _scatter_be(buf, d[m] + 12, ethertype[m], 2)
    v = kind == _VLAN
    _scatter_be(buf, d[v] + 14, np.full(v.sum(), 100), 2)
    _scatter_be(buf, d[v] + 16, np.full(v.sum(), 0x0800), 2)

    # IPv4 + L4 ports
    ip = d + l2
    src = hosts[f_src[flow]]
    dst = hosts[f_dst[flow]]
    buf[ip[is_v4]] = 0x40 | (ihl[is_v4] // 4)
    buf[ip[is_v4] + 9] = proto[is_v4]
    _scatter_be(buf, ip[is_v4] + 12, src[is_v4], 4)
    _scatter_be(buf, ip[is_v4] + 16, dst[is_v4], 4)
    sport, dport = f_sport[flow], f_dport[flow]
    pw = has_ports & ~l4_cut
    _scatter_be(buf, ip[pw] + ihl[pw], sport[pw], 2)
    _scatter_be(buf, ip[pw] + ihl[pw] + 2, dport[pw], 2)

    # Metamako trailers: [fcs:4][sec:4 BE][ns:4 BE][flags:1][device:2 BE][port:1]
    mm_s = ts_sec + rng.integers(-120, 121, n)
    mm_ns = rng.integers(0, 10**9, n)
    mm_id = rng.integers(0, 1 << 16, n)
    mm_port = rng.integers(0, 256, n)

    def put_trailer(at: np.ndarray, sec, ns, dev, port) -> None:
        buf[at[:, None] + np.arange(4)] = _TRAILER_FCS
        _scatter_be(buf, at + 4, sec, 4)
        _scatter_be(buf, at + 8, ns, 4)
        buf[at + 12] = 0
        _scatter_be(buf, at + 13, dev, 2)
        buf[at + 15] = port

    has_mm = tr1 | trf | tr2
    rows = np.flatnonzero(has_mm)
    put_trailer(d[rows] + body[rows], mm_s[rows], mm_ns[rows], mm_id[rows], mm_port[rows])
    outer = np.flatnonzero(tr2)  # the outer trailer of a stack is discarded
    put_trailer(
        d[outer] + body[outer] + 16, mm_s[outer] + 1,
        rng.integers(0, 10**9, outer.size), rng.integers(0, 1 << 16, outer.size),
        rng.integers(0, 256, outer.size),
    )

    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "capture.pcap"), "wb") as f:
        f.write(buf.tobytes())

    def col(values: np.ndarray, valid: np.ndarray, typ: pa.DataType) -> pa.Array:
        return pa.array(values, type=typ, mask=~valid)

    truth = pa.table({
        "src_u32": col(src, is_v4, pa.int64()),
        "dst_u32": col(dst, is_v4, pa.int64()),
        "len": pa.array(orig, pa.int64()),
        "proto": col(proto, is_v4 & np.isin(proto, (1, 2, 6, 17)), pa.int32()),
        "src_port": col(sport, pw, pa.int32()),
        "dst_port": col(dport, pw, pa.int32()),
        "mm_ts": col(mm_s * 10**9 + mm_ns, has_mm, pa.int64()),
        "mm_id": col(mm_id, has_mm, pa.int32()),
        "mm_port": col(mm_port, has_mm, pa.int32()),
    })
    pq.write_table(truth, os.path.join(out_dir, "truth.parquet"))


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    syll = np.array([c + v for c in "bdfgklmnprstvz" for v in "aeiou"])
    n_syl = rng.integers(1, 4, size)
    words = {"".join(rng.choice(syll, k)) for k in n_syl}
    while len(words) < size:
        words.add("".join(rng.choice(syll, 4)))
    return np.array(sorted(words)[:size])


def make_corpus(seed: int, n_docs: int, out_dir: str) -> None:
    """Write ``documents.parquet`` (the engine's documents schema).

    Zipf(1.1) word soup over a 20k-word vocabulary, 30-110 words per
    document. A fifth of the documents are planted near-duplicates of
    an original with ~2% of tokens replaced; some originals gather
    several copies. Copying only originals keeps every planted cluster
    a star of diameter <= 2, so the number of label-propagation rounds,
    and with it the op's job count, does not depend on the seed."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocabulary(rng, 20_000)
    w = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    cdf = np.cumsum(w / w.sum())
    lens = rng.integers(30, 111, n_docs)
    toks = np.minimum(np.searchsorted(cdf, rng.random(int(lens.sum()))), len(vocab) - 1)
    docs = np.split(toks, np.cumsum(lens)[:-1])
    n_orig = n_docs - n_docs // 5
    for i in range(n_orig, n_docs):
        src = docs[int(rng.integers(0, n_orig))].copy()
        edits = rng.random(len(src)) < 0.02
        src[edits] = rng.integers(0, len(vocab), int(edits.sum()))
        docs[i] = src
    order = rng.permutation(n_docs)  # planted copies are not all at the end
    text = [" ".join(vocab[docs[j]]) for j in order]
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(rng.choice(["en", "de", "zh"], n_docs), pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 8, n_docs)], pa.string()),
        "n_chars": pa.array([len(s) for s in text], pa.int64()),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
