#!/usr/bin/env python3
"""Seeded zip corpus generator for the zip workloads.

    python3 perfbench/corpus.py --seed 7 --out DIR [--mb 48]

Writes DIR/zips/*.zip and DIR/manifest.tsv (one line per file entry:
archive, entry name, uncompressed size, SHA-256 hex). The same seed gives
byte-identical archives and manifest.

The archives are written by hand (struct + raw deflate) rather than with
`zipfile`, so each entry can choose independently:
  - text (compressible) or random-byte (incompressible) content;
  - STORED or DEFLATED;
  - "streamed": general-purpose flag bit 3, zero CRC/sizes in the local
    header and a signed data descriptor after the data, as a streaming
    writer emits them; otherwise sizes are known up front. Streamed
    entries are always DEFLATED: a STORED entry with a data descriptor
    cannot be delimited by a forward reader such as `ZipInputStream`;
  - a nested directory path, with explicit directory entries for some
    directories (directory entries are not file entries and are not in
    the manifest);
  - an extension from a set that includes names no glob of the benchmark
    matches (`.zzq`, `.dat`, no extension).

Counts: 16 archives and 6400 file entries, the corpus behind the ~130 MB/s
of the repository README. The README gives no sizes, so the size mix and
the class shares below are this generator's own choice, not measured
inputs. Entry sizes are stratified draws from a log-uniform distribution
over ten binary orders of magnitude, scaled to the requested total, and
each entry's class is the one furthest below its share of the bytes; so
the size profile and class mix stay nearly the same from seed to seed,
and the seed changes names, contents, order and placement. Size skew: one
large archive holds about half the bytes; the other 15 share the rest.
ZIP64 is out of scope: it needs more than 65,535 entries or 4 GB, which a
small shared box cannot generate per run.
"""
import argparse
import hashlib
import os
import random
import struct
import zlib

TEXT_EXTS = ["txt", "csv", "json", "log", "md"]
BIN_EXTS = ["bin", "dat", "zzq", ""]
DOS_TIME, DOS_DATE = 0x6000, 0x5A21  # 2025-01-01 12:00:00, fixed for determinism


def word_pool(rng, n_words=200_000):
    letters = "etaoinshrdlucmfwypvbgkjqxz"
    vocab = ["".join(rng.choices(letters, k=rng.randint(2, 10))) for _ in range(4000)]
    words = rng.choices(vocab, k=n_words)
    lines, i = [], 0
    while i < len(words):
        k = rng.randint(6, 16)
        lines.append(" ".join(words[i:i + k]))
        i += k
    return ("\n".join(lines) + "\n").encode()


def text_bytes(rng, pool, size):
    parts, have = [], 0
    while have < size:
        take = min(size - have, rng.randint(512, 16384))
        off = rng.randrange(0, len(pool) - take)
        parts.append(pool[off:off + take])
        have += take
    return b"".join(parts)


# (is_text, stored, streamed) -> share of the corpus bytes
CLASSES = {
    (True, False, False): 0.45, (True, True, False): 0.10, (True, False, True): 0.15,
    (False, True, False): 0.18, (False, False, False): 0.06, (False, False, True): 0.06,
}
N_ARCHIVES, N_ENTRIES = 16, 6400


def entry_sizes(rng, total):
    """N_ENTRIES stratified log-uniform draws spanning a factor of 1024, in
    a seeded order, scaled so that they add up to exactly `total`."""
    n = N_ENTRIES
    draws = [2 ** (10 * (k + rng.random()) / n) for k in range(n)]
    rng.shuffle(draws)
    scale = total / sum(draws)
    sizes = [max(1, int(d * scale)) for d in draws]
    sizes[-1] += total - sum(sizes)
    return sizes


def pick_class(done, size):
    """The entry class furthest below its byte share once this entry is added."""
    total = sum(done.values()) + size
    return max(CLASSES, key=lambda c: CLASSES[c] * total - done[c])


class ZipWriter:
    def __init__(self, path):
        self.f = open(path, "wb")
        self.central = []

    def add_dir(self, name):
        self._add(name.encode(), b"", stored=True, streamed=False, is_dir=True)

    def add(self, name, data, stored, streamed):
        self._add(name.encode(), data, stored, streamed, is_dir=False)

    def _add(self, name, data, stored, streamed, is_dir):
        crc = zlib.crc32(data)
        if stored:
            comp, method = data, 0
        else:
            c = zlib.compressobj(6, zlib.DEFLATED, -15)
            comp, method = c.compress(data) + c.flush(), 8
        flag = 0x08 if streamed else 0
        offset = self.f.tell()
        hdr_crc, hdr_csize, hdr_usize = (0, 0, 0) if streamed else (crc, len(comp), len(data))
        self.f.write(struct.pack("<IHHHHHIIIHH", 0x04034B50, 20, flag, method,
                                 DOS_TIME, DOS_DATE, hdr_crc, hdr_csize, hdr_usize,
                                 len(name), 0))
        self.f.write(name)
        self.f.write(comp)
        if streamed:
            self.f.write(struct.pack("<IIII", 0x08074B50, crc, len(comp), len(data)))
        ext_attr = 0x10 if is_dir else 0
        self.central.append(struct.pack("<IHHHHHHIIIHHHHHII", 0x02014B50, 20, 20, flag,
                                        method, DOS_TIME, DOS_DATE, crc, len(comp),
                                        len(data), len(name), 0, 0, 0, 0, ext_attr,
                                        offset) + name)

    def close(self):
        cd_start = self.f.tell()
        for rec in self.central:
            self.f.write(rec)
        cd_size = self.f.tell() - cd_start
        n = len(self.central)
        self.f.write(struct.pack("<IHHHHIIH", 0x06054B50, 0, 0, n, n, cd_size, cd_start, 0))
        self.f.close()


def generate(seed, out_dir, total_mb):
    rng = random.Random(seed)
    pool = word_pool(rng)
    zdir = os.path.join(out_dir, "zips")
    os.makedirs(zdir, exist_ok=True)
    for old in os.listdir(zdir):
        os.remove(os.path.join(zdir, old))
    total = total_mb * 1_000_000
    n_small = N_ARCHIVES - 1
    sizes = entry_sizes(rng, total)
    # archive i takes entries until the running total passes bounds[i]: one
    # large archive with about half the bytes, the rest split evenly
    bounds = [total // 2 + (total - total // 2) * i // n_small for i in range(n_small + 1)]
    done = {c: 0 for c in CLASSES}
    manifest = []
    pos, written = 0, 0
    for ai, bound in enumerate(bounds):
        arc = "big_000.zip" if ai == 0 else f"small_{ai:03d}.zip"
        zw = ZipWriter(os.path.join(zdir, arc))
        dirs_made, ei = set(), 0
        while pos < len(sizes) and (written < bound or ei == 0):
            depth = rng.randint(0, 3)
            parts = [f"d{rng.randint(0, 5)}" for _ in range(depth)]
            for d in range(1, depth + 1):
                dname = "/".join(parts[:d]) + "/"
                if dname not in dirs_made and rng.random() < 0.5:
                    zw.add_dir(dname)
                    dirs_made.add(dname)
            size = sizes[pos]
            pos += 1
            cls = pick_class(done, size)
            is_text, stored, streamed = cls
            done[cls] += size
            ext = rng.choice(TEXT_EXTS if is_text else BIN_EXTS)
            fname = f"f{ei:05d}" + (f".{ext}" if ext else "")
            name = "/".join(parts + [fname])
            data = text_bytes(rng, pool, size) if is_text else rng.randbytes(size)
            zw.add(name, data, stored=stored, streamed=streamed)
            manifest.append((arc, name, len(data), hashlib.sha256(data).hexdigest()))
            written += size
            ei += 1
        zw.close()
    with open(os.path.join(out_dir, "manifest.tsv"), "w") as f:
        for row in manifest:
            f.write("\t".join(str(x) for x in row) + "\n")
    return manifest


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--mb", type=int, default=48)
    a = ap.parse_args()
    m = generate(a.seed, a.out, a.mb)
    print(f"{len(m)} entries, {sum(r[2] for r in m) / 1e6:.1f} MB uncompressed")


if __name__ == "__main__":
    main()
