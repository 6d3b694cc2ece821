"""Seeded input generators for the benchmark.

Everything the program under test receives is made here from the run's
seed: VCF shards with the records they must decompose into, lookup keys
with misses, events and documents (the schemas the query layer reads),
Z-set batch sequences and query orders.  The same seed gives
byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _ts(start: str, offsets_us: np.ndarray) -> pa.Array:
    base = (np.datetime64(start, "us") - _EPOCH).astype(np.int64)
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def make_events(seed: int, n_events: int) -> dict:
    """30 days of events whose ts increases with event_id."""
    rng = np.random.default_rng([seed, 8])
    gaps = rng.exponential(30 * 86_400e6 / n_events, n_events)
    return {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts("2024-01-01", np.cumsum(gaps)),
        "user_id": rng.integers(0, max(2, n_events // 66), n_events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(60.0, n_events), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }


def make_documents(seed: int, n_docs: int) -> dict:
    """Bag-of-words documents of 10-100 words.  About 5% are near-dup
    copies of an earlier document with " dup" appended, and a few are
    exact copies, so the dedup operators find real clusters."""
    rng = np.random.default_rng([seed, 2])
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


# ---------------------------------------------------------------------------
# VCF
# ---------------------------------------------------------------------------
CHROMS = [f"chr{i}" for i in range(1, 23)] + ["chrX"]
VCF_HEADER = """##fileformat=VCFv4.2
##INFO=<ID=DP,Number=1,Type=Integer,Description="Total depth">
##INFO=<ID=AF,Number=A,Type=Float,Description="Allele frequency">
##INFO=<ID=AC,Number=A,Type=Integer,Description="Allele count">
##INFO=<ID=AN,Number=1,Type=Integer,Description="Allele number">
##FILTER=<ID=LowQual,Description="Low quality">
{contigs}
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO
"""


def normalize(pos: int, ref: str, alt: str) -> tuple[int, str, str]:
    """Reference-free vt-style trim: right-trim the common suffix, then
    left-trim the common prefix keeping one anchor base."""
    rt = 0
    while rt < min(len(ref), len(alt)) and ref[-1 - rt] == alt[-1 - rt]:
        rt += 1
    if pos == 1:
        rt = min(rt, min(len(ref), len(alt)) - 1)
    ref, alt = ref[: len(ref) - rt], alt[: len(alt) - rt]
    lt = 0
    while lt < min(len(ref), len(alt)) - 1 and ref[lt] == alt[lt]:
        lt += 1
    return pos + lt, ref[lt:], alt[lt:]


def make_vcf(seed: int, out_dir: str, n_records: int, n_shards: int) -> list[tuple]:
    """Write `n_records` VCF records split by chromosome into `n_shards`
    files under `out_dir`; returns the decomposed, normalized rows
    (chrom, pos, ref, alt, rs_id) the loader must produce, sorted.

    GIAB-shaped mix: 83% SNP, 16% indel (a quarter of those written
    with a padded, un-normalized allele pair), 1% multi-allelic SNP
    sites; about 60% of records carry an rsID."""
    rng = np.random.default_rng([seed, 4])
    os.makedirs(out_dir, exist_ok=True)
    n = n_records
    chrom_idx = np.sort(rng.integers(0, len(CHROMS), n))
    # distinct positions per chromosome, >= 20 bp apart so no record
    # overlaps its neighbour's padded alleles
    gaps = rng.integers(20, 2000, n)
    pos = np.cumsum(gaps)
    first = np.searchsorted(chrom_idx, chrom_idx)  # each chromosome's first record
    pos = pos - (pos[first] - gaps[first]) + 10_000
    kind = rng.choice(4, n, p=[0.83, 0.12, 0.04, 0.01])
    has_rs = rng.random(n) < 0.6
    rs_num = rng.permutation(n * 4)[:n] + 1000
    ref0 = rng.integers(0, 4, n)
    # alt bases as offsets 1..3 from the anchor, so never equal to it
    alt_off = np.stack([rng.integers(1, 4, n), rng.integers(1, 3, n)], axis=1)
    ins_len = rng.integers(0, 5, n)
    ins_bases = rng.integers(0, 4, (n, 5))
    last_off = rng.integers(1, 4, n)
    is_ins = rng.random(n) < 0.5
    pad = rng.integers(0, 4, n)
    dp = rng.integers(5, 200, n)
    af = rng.uniform(0.001, 0.5, (n, 2))
    ac = rng.integers(1, 100, (n, 2))
    qual = rng.uniform(10, 99, n)
    passed = rng.random(n) < 0.9

    lines: list[list[str]] = [[] for _ in CHROMS]
    expected: list[tuple] = []
    for i in range(n):
        b0 = int(ref0[i])
        anchor = "ACGT"[b0]
        k = int(kind[i])
        if k == 0:
            ref, alts = anchor, ["ACGT"[(b0 + alt_off[i, 0]) % 4]]
        elif k == 3:
            a1 = (b0 + alt_off[i, 0]) % 4
            a2 = [x for x in range(4) if x not in (b0, a1)][alt_off[i, 1] - 1]
            ref, alts = anchor, ["ACGT"[a1], "ACGT"[a2]]
        else:
            # the inserted/deleted bases end on a base other than the
            # anchor, so the unpadded record is already left-aligned
            ins = "".join("ACGT"[x] for x in ins_bases[i, : ins_len[i]])
            ins += "ACGT"[(b0 + last_off[i]) % 4]
            ref, alts = (anchor, [anchor + ins]) if is_ins[i] else (anchor + ins, [anchor])
            if k == 2:
                # padded form: one shared trailing base to trim
                p = "ACGT"[pad[i]]
                ref, alts = ref + p, [alts[0] + p]
        chrom = CHROMS[chrom_idx[i]]
        rs = f"rs{rs_num[i]}" if has_rs[i] else None
        na = len(alts)
        afs = ",".join(f"{x:.3f}" for x in af[i, :na])
        acs = ",".join(str(x) for x in ac[i, :na])
        lines[chrom_idx[i]].append(
            f"{chrom}\t{pos[i]}\t{rs or '.'}\t{ref}\t{','.join(alts)}\t{qual[i]:.1f}"
            f"\t{'PASS' if passed[i] else 'LowQual'}\tDP={dp[i]};AF={afs};AC={acs};AN=200"
        )
        for alt in alts:
            npos, nref, nalt = normalize(int(pos[i]), ref, alt)
            expected.append((chrom, npos, nref, nalt, rs))
    contigs = "\n".join(f"##contig=<ID={c}>" for c in CHROMS)
    header = VCF_HEADER.format(contigs=contigs)
    for s in range(n_shards):
        with open(os.path.join(out_dir, f"shard{s:02d}.vcf"), "w") as fh:
            fh.write(header)
            for ci in range(s, len(CHROMS), n_shards):
                if lines[ci]:
                    fh.write("\n".join(lines[ci]) + "\n")
    expected.sort(key=_row_key)
    return expected


def _row_key(r: tuple) -> tuple:
    return (r[0], r[1], r[2], r[3], r[4] or "")


LOOKUP_MIX = [("variant", 0.4), ("rsid", 0.35), ("region", 0.25)]


def make_lookups(seed: int, rows: list[tuple], n_ops: int, miss_frac: float = 0.15) -> list[tuple]:
    """Seeded lookup ops over the generated variants: ("variant", chrom,
    pos), ("rsid", rs_id) and ("region", chrom, start, end), each paired
    with its expected result rows, sorted.  Every consecutive block of 20
    ops holds the same number of each kind (LOOKUP_MIX) and of misses
    (`miss_frac`), in seeded order, so seeds change keys but not the mix."""
    import bisect

    rng = np.random.default_rng([seed, 5])
    by_site: dict[tuple, list[tuple]] = {}
    by_rs: dict[str, list[tuple]] = {}
    for r in rows:
        by_site.setdefault((r[0], r[1]), []).append(r)
        if r[4] is not None:
            by_rs.setdefault(r[4], []).append(r)
    sites = sorted(by_site)
    rsids = sorted(by_rs)
    block = [kind for kind, share in LOOKUP_MIX for _ in range(round(20 * share))]
    n_miss = round(20 * miss_frac)
    ops = []
    for i in range(n_ops):
        if i % 20 == 0:
            kinds = list(rng.permutation(block))
            misses = set(rng.choice(20, n_miss, replace=False).tolist())
        kind, miss = kinds[i % 20], i % 20 in misses
        chrom, pos = sites[int(rng.integers(0, len(sites)))]
        if kind == "variant":
            if miss:
                pos += 7  # sites are >= 20 bp apart, so +7 is never one
            ops.append((("variant", chrom, pos), by_site.get((chrom, pos), [])))
        elif kind == "rsid":
            rs = "rs1" if miss else rsids[int(rng.integers(0, len(rsids)))]
            ops.append((("rsid", rs), by_rs.get(rs, [])))  # ids start at rs1000
        else:
            if miss:
                chrom = "chrY"  # never generated
            start, end = pos, pos + int(rng.integers(1_000, 10_000))
            lo = bisect.bisect_left(sites, (chrom, start))
            hi = bisect.bisect_right(sites, (chrom, end))
            ops.append((("region", chrom, start, end),
                        [r for s in sites[lo:hi] for r in by_site[s]]))
    return [(key, sorted(want, key=_row_key)) for key, want in ops]


# ---------------------------------------------------------------------------
# Z-set batches and query order
# ---------------------------------------------------------------------------
def make_zset_plan(seed: int, stream: int, ids: list[int], n_batches: int,
                   boot_frac: float, ins_per_batch: int, del_per_batch: int) -> list[dict]:
    """A bootstrap batch of `boot_frac` of `ids` (in seeded order), then
    `n_batches` Z-set batches, each inserting `ins_per_batch` not yet
    seen ids and retracting `del_per_batch` currently present ones.  An
    id is inserted at most once and retracted at most once, so additive
    sinks never double-count.  Each entry: {"insert": [...], "delete":
    [...], "present": sorted ids present after the batch}.  `stream`
    separates the plans of different tables made from one seed."""
    rng = np.random.default_rng([seed, 6, stream])
    order = [int(x) for x in rng.permutation(ids)]
    n_boot = int(len(order) * boot_frac)
    present = set(order[:n_boot])
    pool = order[n_boot:]
    plan = [{"insert": sorted(order[:n_boot]), "delete": [], "present": sorted(present)}]
    for _ in range(n_batches):
        ins, pool = pool[:ins_per_batch], pool[ins_per_batch:]
        cands = sorted(present)
        dels = sorted(int(x) for x in rng.choice(cands, min(del_per_batch, len(cands)), replace=False))
        present = (present - set(dels)) | set(ins)
        plan.append({"insert": sorted(ins), "delete": dels, "present": sorted(present)})
    return plan


def query_order(seed: int, names: list[str], n_passes: int) -> list[list[str]]:
    """One seeded permutation of `names` per pass."""
    rng = np.random.default_rng([seed, 7])
    return [[names[i] for i in rng.permutation(len(names))] for _ in range(n_passes)]
