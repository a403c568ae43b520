"""The ``fastq_pipeline`` workload: seeded paired-end FASTQ, the ViraPipe
chain over it, and a pure-Python reference of the same chain.

Input: ``SAMPLES`` samples, each an R1/R2 file pair; half the samples are
gzip-compressed. Reads come from three synthetic genomes at different
depths, so the per-sample k-mer coverage band of the normalization step
drops most of the over-covered genome and keeps representatives of the
other two. A known share of pairs has one low-quality mate, and a known
share is an exact copy of an earlier pair of the same sample. Per seed,
about 85% of the pairs pass the filter, 88% of those survive dedup and
16% of those are kept by the band.

Chain (one pass; every step is a call into the engine):
``io.read_fastq`` -> ``functions.avg_quality_pass`` pair filter -> exact
pair dedup -> ``functions.kmers`` coverage band (digital normalization)
-> per-sample grouping -> ``io.write_fastq``; then ``orf.orf_expand``
over the kept pairs -> ``io.write_parquet`` and a protein FASTA via
``io.write_text``.
"""

from __future__ import annotations

import gzip
import os
from collections import defaultdict

import numpy as np

SAMPLES = 4
PAIRS_PER_SAMPLE = 6000
READ_LEN = 100
FRAGMENT = 300
#: (genome length, share of each sample's pairs)
GENOMES = ((3_000, 0.45), (12_000, 0.35), (30_000, 0.2))
LOW_QUALITY_SHARE = 0.15
DUPLICATE_SHARE = 0.12
ERROR_RATE = 0.005
MIN_AVG_QUALITY = 60.0
K = 21
#: keep k-mers seen more than LO and fewer than HI times
BAND_LO, BAND_HI = 2, 40
ORF_MIN_LEN = 60

_COMP = str.maketrans("ACGT", "TGCA")


def _revcomp(s: str) -> str:
    return s.translate(_COMP)[::-1]


def _quality(rng: np.random.Generator, low: bool) -> str:
    lo, hi = (35, 64) if low else (65, 75)
    return rng.integers(lo, hi, READ_LEN).astype(np.uint8).tobytes().decode()


def _mutate(rng: np.random.Generator, seq: str) -> str:
    hits = np.nonzero(rng.random(len(seq)) < ERROR_RATE)[0]
    if not len(hits):
        return seq
    b = bytearray(seq.encode())
    for i in hits:
        b[i] = ord("ACGT"[(("ACGT".index(chr(b[i]))) + int(rng.integers(1, 4))) % 4])
    return b.decode()


def generate(out_dir: str, seed: int) -> dict:
    """Write the sample files; return the pairs as the reference sees
    them plus the input size."""
    rng = np.random.default_rng(seed)
    genomes = [
        "".join(np.asarray(list("ACGT"))[rng.integers(0, 4, n)]) for n, _ in GENOMES
    ]
    shares = np.array([s for _, s in GENOMES])
    os.makedirs(out_dir, exist_ok=True)
    pairs: list[dict] = []
    for s in range(1, SAMPLES + 1):
        sample = f"S{s}"
        made: list[tuple[str, str]] = []
        recs = {1: [], 2: []}
        for i in range(PAIRS_PER_SAMPLE):
            if made and rng.random() < DUPLICATE_SHARE:
                seq1, seq2 = made[int(rng.integers(0, len(made)))]
            else:
                g = genomes[int(rng.choice(len(genomes), p=shares))]
                start = int(rng.integers(0, len(g) - FRAGMENT))
                frag = g[start : start + FRAGMENT]
                seq1 = _mutate(rng, frag[:READ_LEN])
                seq2 = _mutate(rng, _revcomp(frag[-READ_LEN:]))
                made.append((seq1, seq2))
            low_mate = int(rng.integers(1, 3)) if rng.random() < LOW_QUALITY_SHARE else 0
            qual1, qual2 = _quality(rng, low_mate == 1), _quality(rng, low_mate == 2)
            name = f"{sample}:1:FC{seed % 997}:1:1101:{i}:{(i * 7919) % 100_003}"
            pairs.append(
                {"pair": name, "sample": sample, "seq1": seq1, "qual1": qual1,
                 "seq2": seq2, "qual2": qual2}
            )
            recs[1].append(f"@{name} 1:N:0:ACGT\n{seq1}\n+\n{qual1}\n")
            recs[2].append(f"@{name} 2:N:0:ACGT\n{seq2}\n+\n{qual2}\n")
        for mate in (1, 2):
            text = "".join(recs[mate]).encode()
            path = os.path.join(out_dir, f"{sample}_R{mate}.fastq")
            if s % 2 == 0:
                with gzip.open(path + ".gz", "wb", compresslevel=1) as fh:
                    fh.write(text)
            else:
                with open(path, "wb") as fh:
                    fh.write(text)
    size = sum(os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir))
    return {"pairs": pairs, "input_bytes": size, "reads": 2 * len(pairs)}


# ---------------------------------------------------------------------------
# The chain on Spark
# ---------------------------------------------------------------------------


def stages(spark, in_dir: str) -> dict:
    """Build the chain's DataFrames (lazy); one entry per stage."""
    from pyspark.sql import functions as F

    from virapipe_spark import functions as vf
    from virapipe_spark import io

    reads = io.read_fastq(spark, os.path.join(in_dir, "*"))
    mates = reads.select(
        F.split("key", " ").getItem(0).alias("pair"),
        vf.sample_id("key").alias("sample"),
        "read",
        "sequence",
        "quality",
        vf.avg_quality_pass("quality", MIN_AVG_QUALITY).cast("int").alias("ok"),
    )

    def mate(n: int, col: str):
        return F.max(F.when(F.col("read") == n, F.col(col)))

    filtered = (
        mates.groupBy("pair", "sample")
        .agg(
            mate(1, "sequence").alias("seq1"),
            mate(1, "quality").alias("qual1"),
            mate(2, "sequence").alias("seq2"),
            mate(2, "quality").alias("qual2"),
            F.min("ok").alias("ok"),
            F.count("*").alias("n"),
        )
        .filter((F.col("ok") == 1) & (F.col("n") == 2))
        .drop("ok", "n")
    )
    deduped = (
        filtered.groupBy("sample", "seq1", "seq2")
        .agg(F.min(F.struct("pair", "qual1", "qual2")).alias("r"))
        .select("r.pair", "sample", "seq1", "r.qual1", "seq2", "r.qual2")
    )
    band = (
        deduped.select("pair", "sample", F.explode(vf.kmers("seq1", K)).alias("kmer"))
        .groupBy("sample", "kmer")
        .agg(F.count("*").alias("c"), F.min("pair").alias("pair"))
        .filter((F.col("c") > BAND_LO) & (F.col("c") < BAND_HI))
        .select("pair")
        .distinct()
    )
    normalized = deduped.join(band, "pair", "left_semi")
    return {"filtered": filtered, "deduped": deduped, "normalized": normalized}


def grouped_reads(normalized):
    """Both mates of each kept pair, clustered by sample for the write."""
    from pyspark.sql import functions as F

    def mate(n: int):
        return normalized.select(
            "sample",
            F.concat("pair", F.lit(f" {n}:N:0:ACGT")).alias("key"),
            F.col(f"seq{n}").alias("sequence"),
            F.col(f"qual{n}").alias("quality"),
        )

    return (
        mate(1)
        .unionByName(mate(2))
        .repartition(SAMPLES, "sample")
        .sortWithinPartitions("sample", "key")
        .select("key", "sequence", "quality")
    )


# ---------------------------------------------------------------------------
# Pure-Python reference
# ---------------------------------------------------------------------------


def _avg_ok(q: str) -> bool:
    return sum(q.encode()) / len(q) > MIN_AVG_QUALITY


def reference(pairs: list[dict]) -> dict:
    """The chain's expected per-stage pair counts, per-sample output
    reads and ORF count."""
    from virapipe_spark.orf import orfs_for_sequence

    filtered = [p for p in pairs if _avg_ok(p["qual1"]) and _avg_ok(p["qual2"])]
    best: dict[tuple, dict] = {}
    for p in filtered:
        key = (p["sample"], p["seq1"], p["seq2"])
        cur = best.get(key)
        if cur is None or (p["pair"], p["qual1"], p["qual2"]) < (
            cur["pair"], cur["qual1"], cur["qual2"]
        ):
            best[key] = p
    deduped = list(best.values())
    count: dict[tuple, int] = defaultdict(int)
    rep: dict[tuple, str] = {}
    for p in deduped:
        s = p["seq1"]
        for i in range(len(s) - K + 1):
            km = (p["sample"], s[i : i + K])
            count[km] += 1
            if km not in rep or p["pair"] < rep[km]:
                rep[km] = p["pair"]
    keep = {rep[km] for km, c in count.items() if BAND_LO < c < BAND_HI}
    normalized = [p for p in deduped if p["pair"] in keep]
    per_sample: dict[str, list] = defaultdict(list)
    for p in normalized:
        for n in (1, 2):
            per_sample[p["sample"]].append(
                (f"{p['pair']} {n}:N:0:ACGT", p[f"seq{n}"], p[f"qual{n}"])
            )
    orfs = sum(len(orfs_for_sequence(p["pair"], p["seq1"], ORF_MIN_LEN)) for p in normalized)
    return {
        "counts": {
            "pairs": len(pairs),
            "filtered": len(filtered),
            "deduped": len(deduped),
            "normalized": len(normalized),
        },
        "per_sample": {s: sorted(reads) for s, reads in per_sample.items()},
        "orfs": orfs,
    }


def sample_of(key: str) -> str:
    """The sample a generated read name belongs to."""
    return key.split(":", 1)[0]


def read_written_fastq(path: str) -> list[list[tuple[str, str, str]]]:
    """The (name, sequence, quality) reads of each FASTQ part file under
    ``path``, in file order."""
    parts = []
    for f in sorted(os.listdir(path)):
        if not f.startswith("part-"):
            continue
        with open(os.path.join(path, f)) as fh:
            lines = fh.read().splitlines()
        parts.append([(lines[i][1:], lines[i + 1], lines[i + 3]) for i in range(0, len(lines), 4)])
    return parts


def grouping_problems(parts: list[list[tuple[str, str, str]]]) -> list[str]:
    """The per-sample grouping of a write: all reads of a sample in one part
    file, where they are sorted by name (so one contiguous run, as names
    start with the sample). Hash partitioning may put two samples in one
    file."""
    problems = []
    files: dict[str, set] = defaultdict(set)
    for n, reads in enumerate(parts):
        names = [r[0] for r in reads]
        if names != sorted(names):
            problems.append(f"part file {n}: reads not sorted by sample and name")
        for name in names:
            files[sample_of(name)].add(n)
    problems += [
        f"sample {s}: reads in {len(f)} part files" for s, f in sorted(files.items()) if len(f) > 1
    ]
    return problems
