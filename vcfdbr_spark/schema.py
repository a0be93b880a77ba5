"""VCF header parsing → engine schemas.

Reference behavior reproduced here (all citations into /root/reference):

- every ``##SECTION=<ID=...,k=v,...>`` header line becomes a row of a
  small metadata table named after the section
  (pipeline/02-build-db.R:110-127);
- the sample list comes from the ``#CHROM`` line
  (pipeline/02-build-db.R:129-136);
- VEP CSQ sub-column names are derived from the CSQ INFO Description:
  lowercase, then ``" "``, ``":"``, ``"."`` → ``"_"``, then split on
  ``"|"`` (pipeline/02-build-db.R:185-186) — including the long
  ``consequence_annotations_from_ensembl_vep__format__allele`` first
  column that is later dropped (pipeline/02-build-db.R:284);
- all table column names are lowercased and duplicates dropped
  (pipeline/02-build-db.R:346-348).
"""

from __future__ import annotations

import gzip
import io
import re
from dataclasses import dataclass, field

from pyspark.sql import types as T

_STRUCTURED_RE = re.compile(r"^##(?P<section>[A-Za-z0-9_]+)=<(?P<body>.*)>\s*$")
_PLAIN_RE = re.compile(r"^##(?P<key>[A-Za-z0-9_.+-]+)=(?P<value>.*)$")


def mangle_name(name: str) -> str:
    """Reference name mangling: lowercase; space/colon/dot → underscore
    (pipeline/02-build-db.R:185-186, :346)."""
    return re.sub(r"[ :.]", "_", name.lower())


def _split_structured_body(body: str) -> dict[str, str]:
    """Split ``ID=X,Number=1,Type=Float,Description="a, b"`` respecting
    quoted commas."""
    out: dict[str, str] = {}
    key, buf, in_quotes, cur = None, [], False, []
    for ch in body + ",":
        if ch == '"':
            in_quotes = not in_quotes
            continue
        if ch == "=" and key is None and not in_quotes:
            key = "".join(cur)
            cur = []
        elif ch == "," and not in_quotes:
            if key is not None:
                out[key] = "".join(cur)
            key, cur = None, []
        else:
            cur.append(ch)
    return out


@dataclass
class VcfField:
    id: str
    number: str  # '0','1','2',...,'A','R','G','.'
    type: str  # Integer / Float / Flag / String / Character
    description: str = ""

    @property
    def is_flag(self) -> bool:
        return self.type == "Flag"

    def scalar_count(self, n_alts: int = 1, ploidy: int = 2) -> int | None:
        """Concrete per-record value count, or None if unbounded ('.')."""
        if self.number == "A":
            return n_alts
        if self.number == "R":
            return n_alts + 1
        if self.number == "G":
            # diploid biallelic genotype count
            return (n_alts + 1) * (n_alts + 2) // 2
        if self.number == ".":
            return None
        try:
            return int(self.number)
        except ValueError:
            return None

    @property
    def spark_type(self) -> T.DataType:
        if self.is_flag:
            return T.BooleanType()
        base = {
            "Integer": T.LongType(),
            "Float": T.DoubleType(),
        }.get(self.type, T.StringType())
        return base


@dataclass
class VcfHeader:
    info: dict[str, VcfField] = field(default_factory=dict)
    format: dict[str, VcfField] = field(default_factory=dict)
    filters: dict[str, str] = field(default_factory=dict)
    contigs: list[str] = field(default_factory=list)
    samples: list[str] = field(default_factory=list)
    meta: dict[str, str] = field(default_factory=dict)
    raw_sections: dict[str, list[dict[str, str]]] = field(default_factory=dict)
    n_header_lines: int = 0

    @property
    def csq_field(self) -> VcfField | None:
        return self.info.get("CSQ")

    @property
    def csq_columns(self) -> list[str] | None:
        """Mangled CSQ sub-column names (pipeline/02-build-db.R:185-186)."""
        f = self.csq_field
        if f is None:
            return None
        return mangle_name(f.description).split("|")


def parse_header_lines(lines: list[str]) -> VcfHeader:
    h = VcfHeader()
    for line in lines:
        if line.startswith("#CHROM"):
            cols = line.rstrip("\n").split("\t")
            if len(cols) > 9:
                h.samples = cols[9:]
            h.n_header_lines += 1
            continue
        m = _STRUCTURED_RE.match(line)
        if m:
            section, body = m.group("section"), m.group("body")
            kv = _split_structured_body(body)
            h.raw_sections.setdefault(section, []).append(kv)
            if section == "INFO":
                h.info[kv["ID"]] = VcfField(
                    kv["ID"], kv.get("Number", "."), kv.get("Type", "String"),
                    kv.get("Description", ""),
                )
            elif section == "FORMAT":
                h.format[kv["ID"]] = VcfField(
                    kv["ID"], kv.get("Number", "."), kv.get("Type", "String"),
                    kv.get("Description", ""),
                )
            elif section == "FILTER":
                h.filters[kv["ID"]] = kv.get("Description", "")
            elif section == "contig":
                h.contigs.append(kv["ID"])
        else:
            m = _PLAIN_RE.match(line)
            if m:
                h.meta[m.group("key")] = m.group("value")
        h.n_header_lines += 1
    return h


def read_header(path: str, max_bytes: int = 16 * 1024 * 1024) -> VcfHeader:
    """Read the header block of a (optionally gzipped) VCF file.

    Header size is tiny relative to data (even 2,504-sample 1KG headers
    are <1 MB), so a driver-side read mirrors the reference's
    ``scanVcfHeader`` (pipeline/02-build-db.R:113) without touching the
    distributed scan.
    """
    opener = gzip.open if path.endswith((".gz", ".bgz")) else open
    lines: list[str] = []
    with opener(path, "rb") as fh:
        text = io.TextIOWrapper(fh, encoding="utf-8", errors="replace")
        for line in text:
            if not line.startswith("#"):
                break
            lines.append(line)
            if sum(len(x) for x in lines) > max_bytes:
                break
    return parse_header_lines(lines)

