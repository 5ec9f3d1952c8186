"""Corpus generation, markers and expected answers, kept out of the timed path.

Each corpus part (region, scan, loops) lives under <work>/corpus/<part>/
next to a marker <part>.marker.json that records the byte size and SHA-256
of every file plus the expected answers computed here. A part is rebuilt
when its marker is missing or disagrees with the files on disk.

Expected answers never come from graft:
  * region: closed-form formulas of the record index (mirrors Gen.scala);
  * scan: the raw files re-read with Python's stdlib gzip/struct readers;
  * loops: documents are generated here; answers come from the cached
    DuckDB/pin results in loops_expected.json (see oracle.py).
"""
import gzip
import hashlib
import json
import os
import random
import shutil
import struct
import zlib

CORPUS_SEED = 20261017  # corpora are fixed; the workload seed drives the operations

# ---- region shape (mirrors perfbench.Gen) ----
CHROMS = 4
SAMPLES = 16
SAMPLES_PER_POP = 4
VCF_RECORDS = 25000
VCF_STEP = 100
VCF_JITTER = 90
BAM_READS = 50000
BAM_STEP = 50
BAM_JITTER = 40
READ_LEN = 100
FASTA_LEN = 2500000

# ---- scan shape ----
SCAN_MZML = 40000
MZML_PEAKS = 50

# ---- loops shape: measured on the sf0.1 documents table (5000 rows; 10-99
# words drawn uniformly from these 30, each ~1/30 of all words; 250 rows,
# 5 %, are another row's text plus " dup"; lang en 41 %, zh/es/fr 15 %,
# de 14 %; source src<doc_id % 20>; n_chars = len(text)) ----
DOCS = 5000
DUP_SHARE = 20  # one document in 20 is a near-duplicate
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = (("en", 41), ("zh", 15), ("es", 15), ("fr", 15), ("de", 14))

PARTS = ("region", "scan", "loops")


def chrom(c):
    return f"chr{c + 1}"


def vcf_pos(k, s, c):
    return k * VCF_STEP + 1 + ((k * 37 + s * 11 + c * 5) % VCF_JITTER)


def bam_start(k, c):
    return k * BAM_STEP + 1 + ((k * 13 + c * 7) % BAM_JITTER)


def fasta_base(p, c):
    return "ACGT"[((((p * 2654435761 + c * 1013904223) & 0xFFFFFFFF) >> 13) & 3)]


def samples_of_pop(pop):
    return range(pop * SAMPLES_PER_POP, (pop + 1) * SAMPLES_PER_POP)


def expect_vcf(c, lo, hi, samples):
    """(rows, sum(pos)) of VCF records on chrom c with lo <= pos <= hi."""
    n = total = 0
    k0 = max(0, (lo - 1 - VCF_JITTER) // VCF_STEP - 1)
    k1 = min(VCF_RECORDS - 1, (hi - 1) // VCF_STEP + 1)
    for s in samples:
        for k in range(k0, k1 + 1):
            p = vcf_pos(k, s, c)
            if lo <= p <= hi:
                n += 1
                total += p
    return n, total


def expect_bam(c, lo, hi):
    """(rows, sum(start)) of region-BAM reads on chrom c overlapping [lo, hi]."""
    n = total = 0
    k0 = max(0, (lo - READ_LEN - BAM_JITTER) // BAM_STEP - 1)
    k1 = min(BAM_READS - 1, (hi - 1) // BAM_STEP + 1)
    for k in range(k0, k1 + 1):
        st = bam_start(k, c)
        if st <= hi and st + READ_LEN - 1 >= lo:
            n += 1
            total += st
    return n, total


def expect_fasta(c, lo, hi):
    """(length, crc32) of contig c's bases lo..hi."""
    seq = "".join(fasta_base(p, c) for p in range(lo, hi + 1)).encode()
    return len(seq), zlib.crc32(seq)


# ---------------------------------------------------------------------------
# markers
# ---------------------------------------------------------------------------

def _files(root):
    out = []
    for d, _, fs in os.walk(root):
        for f in fs:
            out.append(os.path.join(d, f))
    return sorted(out)


def fingerprint(root):
    h = hashlib.sha256()
    size = 0
    for p in _files(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            while True:
                b = f.read(1 << 22)
                if not b:
                    break
                h.update(b)
                size += len(b)
    return size, h.hexdigest()


def marker_path(work, part):
    return os.path.join(work, "corpus", part + ".marker.json")


def generator_digest():
    """Hash of the code that defines the corpora; a change regenerates them."""
    h = hashlib.sha256()
    for p in (__file__, os.path.join(os.path.dirname(__file__), "src", "main", "scala",
                                     "perfbench", "Gen.scala")):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def load_marker(work, part, verify):
    """The part's marker when it matches the generator and the files (by
    size, and by hash when `verify`), else None."""
    try:
        with open(marker_path(work, part)) as f:
            m = json.load(f)
    except (OSError, ValueError):
        return None
    if m.get("generator") != generator_digest():
        return None
    root = os.path.join(work, "corpus", part)
    if not os.path.isdir(root):
        return None
    if verify:
        size, digest = fingerprint(root)
        if (size, digest) != (m.get("bytes"), m.get("sha256")):
            return None
    elif sum(os.path.getsize(p) for p in _files(root)) != m.get("bytes"):
        return None
    return m


def build(work, part, run_gen):
    """Regenerate one part; `run_gen(part, dir)` runs the JVM generator."""
    root = os.path.join(work, "corpus", part)
    shutil.rmtree(root, ignore_errors=True)
    try:
        os.remove(marker_path(work, part))
    except OSError:
        pass
    os.makedirs(root)
    if part == "loops":
        write_documents(root)
        expected = {}
    else:
        run_gen(part, root)
        expected = scan_expected(root) if part == "scan" else {}
    size, digest = fingerprint(root)
    m = {"part": part, "corpus_seed": CORPUS_SEED, "generator": generator_digest(),
         "bytes": size, "sha256": digest, "expected": expected}
    tmp = marker_path(work, part) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(m, f, indent=1)
    os.replace(tmp, marker_path(work, part))
    return m


# ---------------------------------------------------------------------------
# loops corpus: the documents table, shaped like the sf0.1 one
# ---------------------------------------------------------------------------

def documents_rows(n=DOCS, seed=CORPUS_SEED):
    rnd = random.Random(seed)
    langs = [l for l, w in LANGS for _ in range(w)]
    texts = [" ".join(rnd.choice(WORDS) for _ in range(rnd.randint(10, 99))) for _ in range(n)]
    for i in rnd.sample(range(n), n // DUP_SHARE):
        j = rnd.randrange(n - 1)
        texts[i] = texts[j + (j >= i)] + " dup"  # any other row, itself maybe a duplicate
    return [(i, t, langs[rnd.randrange(len(langs))], f"src{i % 20}", len(t))
            for i, t in enumerate(texts)]


def write_documents(root, n=DOCS):
    """documents.parquet: the documents table, or a smaller one of the same shape."""
    _write_docs(os.path.join(root, "documents.parquet"), documents_rows(n))


def _write_docs(path, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq
    cols = list(zip(*rows))
    t = pa.table({
        "doc_id": pa.array(cols[0], pa.int64()),
        "text": pa.array(cols[1], pa.string()),
        "lang": pa.array(cols[2], pa.string()),
        "source": pa.array(cols[3], pa.string()),
        "n_chars": pa.array(cols[4], pa.int64()),
    })
    pq.write_table(t, path)


def documents_digest():
    """Content hash of the documents table, independent of parquet encoding."""
    h = hashlib.sha256()
    for r in documents_rows():
        h.update(repr(r).encode())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# scan corpus: expected totals from the raw files
# ---------------------------------------------------------------------------

def gc_count(seq):
    return seq.count(b"G") + seq.count(b"C")


def fastq_totals(paths, classes=8):
    """Records/bases/GC/quality totals over BGZF (multi-member gzip) FASTQ
    files, overall and per record-index class (name = read<i>, class i % 8)."""
    tot = dict(records=0, bases=0, gc=0, qual_n=0, qual_first=0)
    cls = [dict(records=0, bases=0, gc=0) for _ in range(classes)]
    for p in paths:
        # whole-file slices rather than a readline loop: the write check runs
        # after every timed run, so its cost is part of each run's wall time
        with gzip.open(p, "rb") as f:
            lines = f.read().split(b"\n")
        if lines[-1] == b"":
            lines.pop()
        assert len(lines) % 4 == 0, p
        names, seqs, quals = lines[0::4], lines[1::4], lines[3::4]
        tot["records"] += len(seqs)
        tot["qual_n"] += sum(map(len, quals))
        tot["qual_first"] += sum(q[0] for q in quals) - 33 * len(quals)
        by_class = [[] for _ in range(classes)]
        for name, seq in zip(names, seqs):
            by_class[int(name[5:].split()[0]) % classes].append(seq)
        for c, group in zip(cls, by_class):
            joined = b"".join(group)
            g = gc_count(joined)
            c["records"] += len(group)
            c["bases"] += len(joined)
            c["gc"] += g
            tot["bases"] += len(joined)
            tot["gc"] += g
    tot["classes"] = cls
    return tot


# BAM 4-bit base codes "=ACMGRSVTWYHKDBN": C = 2, G = 4.
_NIB_GC = [1 if v in (2, 4) else 0 for v in range(16)]
_BYTE_GC = bytes(_NIB_GC[b >> 4] + _NIB_GC[b & 15] for b in range(256))


def _bam_body(path):
    """The inflated BAM and the offset of its first record."""
    with gzip.open(path, "rb") as f:
        data = f.read()
    assert data[:4] == b"BAM\x01", path
    o = 4
    l_text, = struct.unpack_from("<i", data, o)
    o += 4 + l_text
    n_ref, = struct.unpack_from("<i", data, o)
    o += 4
    for _ in range(n_ref):
        l_name, = struct.unpack_from("<i", data, o)
        o += 4 + l_name + 4
    return data, o


def bam_records(path):
    """Yield (flag, pos0, l_seq, name, seq_bytes) for each BAM record."""
    data, o = _bam_body(path)
    end = len(data)
    while o < end:
        bs, _ref, pos, l_rn, _mq, _bin, n_cig, flag, l_seq = struct.unpack_from(
            "<iiiBBHHHi", data, o)
        rn = o + 36
        name = data[rn:rn + l_rn - 1]
        s = rn + l_rn + 4 * n_cig
        yield flag, pos, l_seq, name, data[s:s + (l_seq + 1) // 2]
        o += 4 + bs


def bam_count(path):
    data, o = _bam_body(path)
    n = 0
    while o < len(data):
        o += 4 + struct.unpack_from("<i", data, o)[0]
        n += 1
    return n


def bam_totals(paths, classes=8):
    tot = dict(records=0, bases=0, gc=0, reverse=0, duplicate=0, start_sum=0)
    cls = [0] * classes
    seqs = bytearray()
    for p in paths:
        for flag, pos, l_seq, name, seq in bam_records(p):
            tot["records"] += 1
            tot["bases"] += l_seq
            tot["reverse"] += (flag >> 4) & 1
            tot["duplicate"] += (flag >> 10) & 1
            tot["start_sum"] += pos + 1
            cls[int(name[1:]) % classes] += 1
            seqs += seq
    tot["gc"] = sum(seqs.translate(_BYTE_GC))
    tot["classes"] = cls
    return tot


def vcf_totals(path):
    tot = dict(records=0, pos_sum=0, qual_sum=0, info_bytes=0)
    with gzip.open(path, "rb") as f:
        for line in f:
            if line[:1] == b"#":
                continue
            col = line.rstrip(b"\n").split(b"\t")
            tot["records"] += 1
            tot["pos_sum"] += int(col[1])
            tot["qual_sum"] += int(float(col[5]))
            tot["info_bytes"] += len(col[7])
    return tot


def fasta_totals(path):
    tot = dict(records=0, bases=0, gc=0)
    with gzip.open(path, "rb") as f:
        for line in f:
            if line[:1] == b">":
                tot["records"] += 1
            else:
                s = line.rstrip(b"\n")
                tot["bases"] += len(s)
                tot["gc"] += gc_count(s)
    return tot


def mzml_totals():
    """Spectrum count, peak count and intensity sum of Corpora.writeMzml's
    closed form: intensity[i][j] = (31 i + 17 j) mod 10000."""
    s = 0
    for i in range(SCAN_MZML):
        base = 31 * i
        for j in range(MZML_PEAKS):
            s += (base + 17 * j) % 10000
    return dict(records=SCAN_MZML, peaks=SCAN_MZML * MZML_PEAKS, intensity_sum=s)


def data_files(d, suffix):
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(suffix))


SCAN_FILES = {
    # scan name -> (sub-directory, data-file suffix)
    "fastq_bgzf": ("fastq", ".fastq.gz"),
    "bam": ("bam", ".bam"),
    "vcf_bgzf": ("vcf", ".vcf.gz"),
    "fasta_gz": ("fasta_gz", ".fasta.gz"),
    "mzml": ("mzml", ".mzML"),
    "cram": ("cram", ".cram"),
}


def scan_expected(root):
    exp = {}
    for name, (sub, suffix) in SCAN_FILES.items():
        files = data_files(os.path.join(root, sub), suffix)
        exp.setdefault(name, {})["input_bytes"] = sum(os.path.getsize(p) for p in files)
    exp["fastq_bgzf"].update(fastq_totals(data_files(os.path.join(root, "fastq"), ".fastq.gz")))
    bam = bam_totals(data_files(os.path.join(root, "bam"), ".bam"))
    exp["bam"].update(bam)
    # CRAM is the BAM transcoded record for record: same totals.
    exp["cram"].update({k: v for k, v in bam.items() if k != "classes"})
    exp["vcf_bgzf"].update(vcf_totals(data_files(os.path.join(root, "vcf"), ".vcf.gz")[0]))
    exp["fasta_gz"].update(fasta_totals(data_files(os.path.join(root, "fasta_gz"), ".fasta.gz")[0]))
    exp["mzml"].update(mzml_totals())
    return exp
