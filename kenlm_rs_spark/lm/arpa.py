"""ARPA text-format reader/writer.

Grammar per the reference Rust reader (/root/reference/src/reader/arpa/mod.rs:46-222)
and the C++ twin (/root/reference/src/cxx/lm/read_arpa.cc:47-164):

    \\data\\
    ngram 1=<c1>
    ...
    ngram N=<cN>
    <blank>
    \\1-grams:
    <log10prob> \\t word[ \\t word]* [\\t backoff]
    ...
    <blank>
    ...
    \\N-grams:
    <log10prob> \\t ngram            (highest order: no backoff)
    <blank>
    \\end\\

Normalization applied at load, matching the C++ reader
(/root/reference/src/cxx/lm/read_arpa.cc:112-121): a backoff of +0.0 is stored
as -0.0 (kNoExtensionBackoff); a data structure pass later flips it back to
+0.0 for n-grams that appear as the context of an (n+1)-gram.
Positive log-probs are rejected (read_arpa.cc:166-177 semantics).
"""

from __future__ import annotations

import gzip
import math
from dataclasses import dataclass, field
from typing import IO, Iterable

NEG_ZERO = -0.0


class ArpaError(ValueError):
    """Malformed ARPA input. ``kind`` mirrors the reference error taxonomy
    (/root/reference/src/reader/arpa/mod.rs:12-38)."""

    def __init__(self, kind: str, message: str = ""):
        self.kind = kind
        super().__init__(f"{kind}: {message}" if message else kind)


@dataclass
class ProbBackoffNgram:
    log_prob: float
    ngram: tuple[str, ...]
    backoff: float


@dataclass
class ProbNgram:
    log_prob: float
    ngram: tuple[str, ...]


@dataclass
class ArpaSections:
    """Parsed ARPA file: counts per order; orders 1..N-1 carry backoffs,
    order N does not (/root/reference/src/reader/arpa/mod.rs:40-44)."""

    counts: list[int]
    backoffs: list[list[ProbBackoffNgram]] = field(default_factory=list)
    no_backoff: list[ProbNgram] = field(default_factory=list)

    @property
    def order(self) -> int:
        return len(self.counts)


# ARPA words are split on "\t\n\r " (kARPASpaces, read_arpa.cc:23); the Rust
# reader uses ascii whitespace (arpa/mod.rs:227,249). A line is
# "prob<ws>w1<ws>...<ws>wn[<ws>backoff]".
def _check_logprob(value: float, where: str) -> float:
    if math.isnan(value) or math.isinf(value):
        raise ArpaError("BadProb", f"non-finite log prob at {where}")
    if value > 0.0:
        raise ArpaError("PositiveLogProb", f"log10 prob {value} > 0 at {where}")
    return value


def _normalize_backoff(value: float, where: str) -> float:
    if math.isnan(value) or math.isinf(value):
        raise ArpaError("BadBackoff", f"non-finite backoff at {where}")
    # Always make zero negative (read_arpa.cc:112-121).
    if value == 0.0:
        return NEG_ZERO
    return value


def _open(path_or_file) -> IO[str]:
    if hasattr(path_or_file, "read"):
        return path_or_file
    p = str(path_or_file)
    if p.endswith(".gz"):
        return gzip.open(p, "rt", encoding="utf-8", errors="strict")
    return open(p, "rt", encoding="utf-8")


def read_arpa_counts(lines: Iterable[str]) -> list[int]:
    """Parse the \\data\\ header; raises like the reference
    (DataHeaderMissing / NgramCountsMissing, arpa/test.rs:58-78)."""
    it = iter(lines)
    # Skip leading blank lines (read_arpa.cc tolerates a BOM/blank preamble).
    first = None
    for raw in it:
        line = raw.rstrip("\n").rstrip("\r")
        if line.strip() == "":
            continue
        first = line
        break
    if first is None or first.strip() != "\\data\\":
        raise ArpaError("DataHeaderMissing", f"expected \\data\\, got {first!r}")
    counts: list[int] = []
    for raw in it:
        line = raw.rstrip("\n").rstrip("\r")
        if line.strip() == "":
            break
        if not line.startswith("ngram "):
            raise ArpaError("NgramCountsMissing", f"expected 'ngram o=c', got {line!r}")
        body = line[len("ngram ") :]
        try:
            order_s, count_s = body.split("=", 1)
            order, count = int(order_s), int(count_s)
        except ValueError as e:
            raise ArpaError("InvalidNgramCount", line) from e
        if order != len(counts) + 1:
            raise ArpaError("NonConsecutiveOrders", line)
        counts.append(count)
    if not counts:
        raise ArpaError("NgramCountsMissing", "no 'ngram o=c' lines after \\data\\")
    return counts


def read_arpa(path_or_file) -> ArpaSections:
    """Full strict parse of an ARPA file into sections."""
    f = _open(path_or_file)
    counts = read_arpa_counts(f)
    order = len(counts)
    sections = ArpaSections(counts=counts)

    for o in range(1, order + 1):
        header = f.readline().rstrip("\n").rstrip("\r")
        expected = f"\\{o}-grams:"
        if header.strip() != expected:
            raise ArpaError("SectionHeaderMissing", f"expected {expected}, got {header!r}")
        is_highest = o == order
        records_bo: list[ProbBackoffNgram] = []
        records_nb: list[ProbNgram] = []
        n_read = 0
        while True:
            raw = f.readline()
            if raw == "":
                raise ArpaError("UnexpectedEof", f"inside {expected}")
            line = raw.rstrip("\n").rstrip("\r")
            if line.strip() == "":
                break
            parts = [p for p in line.split() if p]
            where = f"{expected} line {n_read + 1}"
            if is_highest:
                if len(parts) != 1 + o:
                    raise ArpaError("BadRecord", f"{where}: expected prob + {o} words")
                prob = _check_logprob(float(parts[0]), where)
                records_nb.append(ProbNgram(prob, tuple(parts[1:])))
            else:
                if len(parts) == 1 + o:
                    backoff = NEG_ZERO
                    words = tuple(parts[1:])
                elif len(parts) == 2 + o:
                    backoff = _normalize_backoff(float(parts[-1]), where)
                    words = tuple(parts[1:-1])
                else:
                    raise ArpaError("BadRecord", f"{where}: wrong field count")
                prob = _check_logprob(float(parts[0]), where)
                records_bo.append(ProbBackoffNgram(prob, words, backoff))
            n_read += 1
        if n_read != counts[o - 1]:
            raise ArpaError(
                "CountMismatch", f"{expected}: header says {counts[o - 1]}, read {n_read}"
            )
        if is_highest:
            sections.no_backoff = records_nb
        else:
            sections.backoffs.append(records_bo)

    end = f.readline().rstrip("\n").rstrip("\r")
    if end.strip() != "\\end\\":
        raise ArpaError("EndMissing", f"expected \\end\\, got {end!r}")
    return sections


def arpa_record(log_prob: float, ngram: tuple[str, ...], backoff: float | None) -> str:
    """One ARPA line (print.cc shape): ``%g`` numbers, tab-separated. The
    backoff field is omitted when ``backoff`` is None (the highest order)
    or -0.0 (kNoExtensionBackoff); +0.0 prints as ``0``."""
    head = f"{log_prob:g}\t{' '.join(ngram)}"
    if backoff is None or (backoff == 0.0 and math.copysign(1.0, backoff) < 0):
        return head + "\n"
    return f"{head}\t{backoff:g}\n"


def write_arpa(sections: ArpaSections, out: IO[str]) -> None:
    """Print a model back to ARPA text (reference sink S8,
    /root/reference/src/cxx/lm/common/print.cc shape)."""
    out.write("\\data\\\n")
    for o, c in enumerate(sections.counts, start=1):
        out.write(f"ngram {o}={c}\n")
    out.write("\n")
    for o in range(1, sections.order + 1):
        out.write(f"\\{o}-grams:\n")
        if o == sections.order:
            for r in sections.no_backoff:
                out.write(arpa_record(r.log_prob, r.ngram, None))
        else:
            for r in sections.backoffs[o - 1]:
                out.write(arpa_record(r.log_prob, r.ngram, r.backoff))
        out.write("\n")
    out.write("\\end\\\n")
