"""Seeded synthetic inputs for the benchmark, with their ground truth.

The engine only ever sees the files written here; every expected
answer is computed from the generator's own arrays.

VCF cohort:

- Genes are contiguous position windows whose sizes follow a Zipf law
  by rank (one hot gene, a tiny median); the gene order along the
  genome is shuffled by the seed.  About a tenth of the variants are
  intergenic (no CSQ), and variants near a gene's end also carry a
  transcript of the next gene, so a variant can belong to two genes.
- Each variant has an allele frequency drawn log-uniformly; every
  genotype is drawn from that frequency (not a periodic pattern), with
  about 2% missing calls and a per-variant phased/unphased separator.
- CSQ carries 1-3 transcripts per gene, some with ``&``-joined
  consequences.  A few multiallelic and malformed records go to the
  reject channel.  Output is gzip.

A cohort is one universe of variant sites.  A store is built from a
sequence of *parts* (index arrays into the universe): the base build
first, then each append.  :class:`StoreTruth` mirrors the engine's id
assignment (dense, in part order, position order within a part) and
answers every benchmark query from the arrays.

Documents: a corpus with planted near-duplicates (one word changed,
or an exact copy), written as parquet files for the streaming source.
"""

from __future__ import annotations

import gzip
import hashlib
import os
from dataclasses import dataclass, field

import numpy as np

CONTIGS = ("1", "2", "3")
CONTIG_LEN = 200_000_000
RARE_AF = 0.01
CSQ_FORMAT = (
    "Allele|Consequence|IMPACT|SYMBOL|SYMBOL_SOURCE|Gene|Feature_type|Feature"
    "|BIOTYPE|EXON|INTRON|CANONICAL"
)
# consequence -> IMPACT; '&' joins pick the first entry's impact
_CONSEQUENCES = (
    ("missense_variant", "MODERATE"),
    ("intron_variant", "MODIFIER"),
    ("synonymous_variant", "LOW"),
    ("splice_region_variant&intron_variant", "LOW"),
    ("stop_gained", "HIGH"),
    ("frameshift_variant&splice_region_variant", "HIGH"),
    ("3_prime_UTR_variant", "MODIFIER"),
)
_BASES = np.array(list("ACGT"))
# genotype cell codes: 0 hom-ref, 1 het, 2 hom-alt, 3 missing
_MISSING = 3
_MAX_DP = 64


def _gt_cell_table() -> np.ndarray:
    """Object array of cell strings indexed by (code*2 + phased)*_MAX_DP + dp."""
    gts = {
        (0, 0): "0/0", (0, 1): "0|0",
        (1, 0): "0/1", (1, 1): "1|0",
        (2, 0): "1/1", (2, 1): "1|1",
        (3, 0): "./.", (3, 1): ".|.",
    }
    out = np.empty(4 * 2 * _MAX_DP, dtype=object)
    for (code, ph), gt in gts.items():
        for dp in range(_MAX_DP):
            dps = "." if code == _MISSING else str(dp)
            out[(code * 2 + ph) * _MAX_DP + dp] = f"{gt}:{dps}"
    return out


_CELLS = _gt_cell_table()


def zipf_sizes(total: int, n: int, exponent: float = 1.0) -> np.ndarray:
    """Sizes by rank (largest first) proportional to 1/rank**exponent,
    each at least 1, summing to ``total``."""
    w = 1.0 / np.arange(1, n + 1) ** exponent
    sizes = np.maximum(1, np.floor(w / w.sum() * total)).astype(np.int64)
    sizes[0] += total - sizes.sum()
    return sizes


@dataclass
class Cohort:
    """A seeded universe of variant sites over one sample cohort."""

    seed: int
    n_variants: int
    n_samples: int
    n_genes: int = 200
    contig: np.ndarray = field(init=False)  # contig rank per site
    pos: np.ndarray = field(init=False)
    ref: np.ndarray = field(init=False)
    alt: np.ndarray = field(init=False)
    af: np.ndarray = field(init=False)
    genes: list[tuple[int, ...]] = field(init=False)  # gene ranks per site
    gt: np.ndarray = field(init=False)  # (site, sample) codes
    dp: np.ndarray = field(init=False)
    phased: np.ndarray = field(init=False)
    csq: list[str | None] = field(init=False)

    def __post_init__(self) -> None:
        rng = np.random.default_rng(self.seed)
        n, s = self.n_variants, self.n_samples
        # sites in genome order: contig blocks, increasing positions
        per_contig = np.bincount(
            np.sort(rng.integers(0, len(CONTIGS), n)), minlength=len(CONTIGS)
        )
        self.contig = np.repeat(np.arange(len(CONTIGS)), per_contig)
        gaps = rng.integers(3, 200, n)
        pos = np.empty(n, dtype=np.int64)
        start = 0
        for k in per_contig:
            pos[start:start + k] = 10_000 + np.cumsum(gaps[start:start + k])
            start += k
        self.pos = pos
        self.ref = rng.choice(_BASES, n)
        # about 5% short deletions: two-base REF, so end = start + 1
        dels = rng.random(n) < 0.05
        self.ref = np.where(dels, np.char.add(self.ref, rng.choice(_BASES, n)), self.ref)
        alt = rng.choice(_BASES, n)
        same = alt == np.array([r[0] for r in self.ref])
        alt[same] = np.where(alt[same] == "A", "C", "A")
        self.alt = np.where(dels, np.array([r[0] for r in self.ref]), alt)
        # log-uniform AF at 4 significant digits, kept clear of the
        # rare threshold so float32/float64 parses agree on af < 0.01
        af = np.float64([float(f"{v:.4g}") for v in 10 ** rng.uniform(-3.5, -0.4, n)])
        near = np.abs(af - RARE_AF) < 5e-4
        af[near] = np.where(af[near] < RARE_AF, 0.008, 0.012)
        self.af = af
        # genes: contiguous windows, Zipf sizes by rank, seeded order
        intergenic = rng.random(n) < 0.1
        genic = np.flatnonzero(~intergenic)
        sizes = zipf_sizes(len(genic), self.n_genes)
        order = rng.permutation(self.n_genes)
        gene_of = np.repeat(order, sizes[order])
        tail = np.zeros(n, dtype=bool)  # last 5% of each window
        bounds = np.cumsum(sizes[order])
        starts = bounds - sizes[order]
        for b0, b1 in zip(starts, bounds):
            k = max(1, (b1 - b0) // 20)
            tail[genic[b1 - k:b1]] = True
        genes: list[tuple[int, ...]] = [()] * n
        for j, i in enumerate(genic):
            g = int(gene_of[j])
            nxt = int(gene_of[j + 1]) if j + 1 < len(genic) else g
            genes[i] = (g, nxt) if tail[i] and nxt != g else (g,)
        self.genes = genes
        # genotypes drawn from each site's AF (Hardy-Weinberg), 2% missing
        alleles = (rng.random((n, s, 2)) < af[:, None, None]).sum(axis=2)
        missing = rng.random((n, s)) < 0.02
        self.gt = np.where(missing, _MISSING, alleles).astype(np.int8)
        self.dp = rng.integers(5, _MAX_DP, (n, s)).astype(np.int16)
        self.phased = rng.random(n) < 0.3
        n_tx = rng.integers(1, 4, n)
        cons = rng.integers(0, len(_CONSEQUENCES), (n, 3))
        csq: list[str | None] = []
        for i in range(n):
            if not genes[i]:
                csq.append(None)
                continue
            ann = []
            for g in genes[i]:
                sym = gene_symbol(g)
                for t in range(int(n_tx[i])):
                    c, impact = _CONSEQUENCES[cons[i, t]]
                    exon = f"{t + 2}/9" if "intron" not in c else ""
                    intron = f"{t + 1}/8" if "intron" in c else ""
                    ann.append(
                        f"{self.alt[i]}|{c}|{impact}|{sym}|EntrezGene|ENSG{g:05d}"
                        f"|Transcript|ENST{g:05d}{t}|protein_coding|{exon}|{intron}"
                        f"|{'YES' if t == 0 else ''}"
                    )
            csq.append(",".join(ann))
        self.csq = csq

    @property
    def samples(self) -> list[str]:
        return [f"S{i:04d}" for i in range(self.n_samples)]

    def dosage(self) -> np.ndarray:
        """Per-cell dosage with missing calls as 0 (the engine's gt is NULL)."""
        return np.where(self.gt == _MISSING, 0, self.gt)

    def header(self) -> str:
        lines = ["##fileformat=VCFv4.2"]
        lines += [f"##contig=<ID={c},length={CONTIG_LEN}>" for c in CONTIGS]
        lines += [
            '##FILTER=<ID=PASS,Description="All filters passed">',
            '##INFO=<ID=AC,Number=A,Type=Integer,Description="Allele count">',
            '##INFO=<ID=AF,Number=A,Type=Float,Description="Allele frequency">',
            '##INFO=<ID=AN,Number=1,Type=Integer,Description="Allele number">',
            '##INFO=<ID=CSQ,Number=.,Type=String,Description="Consequence '
            f'annotations from Ensembl VEP. Format: {CSQ_FORMAT}">',
            '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
            '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Read depth">',
        ]
        cols = ["#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT"]
        lines.append("\t".join(cols + self.samples))
        return "\n".join(lines) + "\n"

    def write_vcf(
        self, path: str, rows: np.ndarray, n_multiallelic: int = 0, n_malformed: int = 0
    ) -> int:
        """Write the sites ``rows`` (sorted into genome order) as a gzip
        VCF, with the given number of reject-channel records spliced in.
        Returns the file size in bytes."""
        rows = np.sort(rows)
        rng = np.random.default_rng([self.seed, len(rows), int(rows[0])])
        an = 2 * self.n_samples
        lines = []
        for i in rows:
            info = f"AC={max(1, round(self.af[i] * an))};AF={self.af[i]:.4g};AN={an}"
            if self.csq[i] is not None:
                info += f";CSQ={self.csq[i]}"
            idx = (self.gt[i].astype(np.int64) * 2 + int(self.phased[i])) * _MAX_DP + self.dp[i]
            lines.append(
                f"{CONTIGS[self.contig[i]]}\t{self.pos[i]}\t.\t{self.ref[i]}\t{self.alt[i]}"
                f"\t50\tPASS\t{info}\tGT:DP\t" + "\t".join(_CELLS[idx])
            )
        # rejects reuse a real record's body with a bad ALT or POS; they
        # sit at their neighbour's locus so genome order is kept
        genos = "\t".join(["0/0:10"] * self.n_samples)
        for k, at in enumerate(rng.choice(len(lines), n_multiallelic + n_malformed, replace=False)):
            i = rows[at]
            bad_pos, bad_alt = (self.pos[i], "C,T") if k < n_multiallelic else ("1x", "G")
            lines[at] += (
                f"\n{CONTIGS[self.contig[i]]}\t{bad_pos}\t.\tA\t{bad_alt}\t50\tPASS"
                f"\tAC=1;AF=0.5;AN={an}\tGT:DP\t{genos}"
            )
        with gzip.open(path, "wt", compresslevel=1) as fh:
            fh.write(self.header())
            fh.write("\n".join(lines))
            fh.write("\n")
        return os.path.getsize(path)


def gene_symbol(rank: int) -> str:
    return f"GENE{rank:04d}"


class StoreTruth:
    """Expected answers for a store built from ``parts`` of a cohort,
    in order.  Variant ids are dense from ``id_start`` in part order,
    genome order within a part — the engine's append semantics."""

    def __init__(self, cohort: Cohort, id_start: int = 1):
        self.cohort = cohort
        self.id_start = id_start
        self.rows = np.empty(0, dtype=np.int64)  # universe row per id
        self._gene_ids: dict[int, np.ndarray] = {}

    def add_part(self, rows: np.ndarray) -> None:
        self.rows = np.concatenate([self.rows, np.sort(rows)])
        self._gene_ids.clear()

    @property
    def n_variants(self) -> int:
        return len(self.rows)

    def ids(self) -> np.ndarray:
        return np.arange(self.id_start, self.id_start + len(self.rows))

    def _rare(self) -> np.ndarray:
        return self.cohort.af[self.rows] < RARE_AF

    def gene_rare_ids(self, gene: int) -> np.ndarray:
        """Ids of stored rare variants annotated with ``gene``."""
        if gene not in self._gene_ids:
            g = self.cohort.genes
            hit = np.fromiter((gene in g[r] for r in self.rows), bool, len(self.rows))
            self._gene_ids[gene] = self.ids()[hit & self._rare()]
        return self._gene_ids[gene]

    def rare_by_gene(self) -> dict[str, int]:
        counts: dict[str, int] = {}
        for r, rare in zip(self.rows, self._rare()):
            if rare:
                for gene in self.cohort.genes[r]:
                    sym = gene_symbol(gene)
                    counts[sym] = counts.get(sym, 0) + 1
        return counts

    def geno_summary(self, ids: np.ndarray) -> tuple[int, int, int]:
        """(rows, carrier rows, dosage sum) of a genotype pull of ``ids``."""
        rows = self.rows[np.asarray(ids) - self.id_start]
        d = self.cohort.dosage()[rows]
        return d.size, int((d > 0).sum()), int(d.sum())

    def interval_ids(self, contig: int, start: int, end: int) -> np.ndarray:
        c = self.cohort
        r = self.rows
        v_end = c.pos[r] + np.char.str_len(c.ref[r]) - 1
        hit = (c.contig[r] == contig) & (c.pos[r] <= end) & (v_end >= start)
        return self.ids()[hit]


# ---------------------------------------------------------------- documents

_WORDS_PER_DOC = (25, 45)


def make_documents(seed: int, n_docs: int, dup_share: float = 0.15) -> list[tuple[int, str]]:
    """(doc_id, text) with planted near-duplicates: exactly ``dup_share``
    of the docs copy an earlier doc, most with one word replaced."""
    rng = np.random.default_rng([seed, 7])
    vocab = np.array(
        ["".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), rng.integers(3, 9)))
         for _ in range(3000)]
    )
    dups = set(rng.choice(np.arange(10, n_docs), round(dup_share * n_docs), replace=False).tolist())
    lengths = np.resize(np.arange(*_WORDS_PER_DOC), n_docs)
    texts: list[str] = []
    for i in range(n_docs):
        if i in dups:
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.7:
                words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
        else:
            words = list(vocab[rng.integers(0, len(vocab), lengths[i])])
        texts.append(" ".join(words))
    ids = rng.permutation(np.arange(1, n_docs + 1) * 7)
    return [(int(d), t) for d, t in zip(ids, texts)]


def write_documents(docs: list[tuple[int, str]], out_dir: str, n_files: int) -> None:
    """Split ``docs`` into ``n_files`` parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for k, chunk in enumerate(np.array_split(np.arange(len(docs)), n_files)):
        table = pa.table({
            "doc_id": pa.array([docs[i][0] for i in chunk], pa.int64()),
            "text": pa.array([docs[i][1] for i in chunk], pa.string()),
        })
        pq.write_table(table, os.path.join(out_dir, f"part-{k:03d}.parquet"))


def document_bytes(docs: list[tuple[int, str]]) -> int:
    """User data in ``docs``: UTF-8 text plus an 8-byte id each."""
    return sum(len(t.encode()) + 8 for _, t in docs)


def pair_digest(pairs) -> tuple[int, str]:
    """(count, md5) of a set of (a, b) pairs, order-independent."""
    arr = np.array(sorted((int(a), int(b)) for a, b in pairs), dtype=np.int64)
    return len(arr), hashlib.md5(arr.tobytes()).hexdigest()
