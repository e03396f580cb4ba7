"""lmplz twin (/root/reference/src/cxx/lm/builder/lmplz_main.cc:84-152).

Estimates an interpolated modified Kneser-Ney ARPA from a text or parquet
corpus with the distributed Spark pipeline (A1-A5). Supports --prune with
lmplz's exact semantics: one threshold per order, non-decreasing, the last
value extended to remaining orders; n-grams with raw count <= threshold are
dropped and their mass folds into the backoff. The ARPA is written through
the one streaming emit (one distributed sort over (order, gram), read a
partition at a time), so the driver never holds the model.

  python -m kenlm_rs_spark.tools.lmplz -o 3 --text corpus.parquet \
      --arpa out.arpa [--prune 0 0 1] [--text_col text]
"""

from __future__ import annotations

import argparse
import sys


def expand_prune(values: list[int], order: int) -> list[int] | None:
    """lmplz rule: 'the last value applies to any remaining orders'."""
    if not values:
        return None
    if len(values) > order:
        raise SystemExit(f"--prune: more thresholds ({len(values)}) than orders ({order})")
    out = list(values) + [values[-1]] * (order - len(values))
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("-o", "--order", type=int, required=True)
    ap.add_argument("--text", required=True,
                    help="input corpus: parquet dir/file (uses --text_col) or plain text (one sentence per line)")
    ap.add_argument("--arpa", required=True, help="output ARPA path")
    ap.add_argument("--prune", type=int, nargs="*", default=[],
                    help="per-order raw-count thresholds (non-decreasing; last extends)")
    ap.add_argument("--limit_vocab_file", default=None,
                    help="whitespace-separated allowed vocabulary; n-grams "
                         "containing other words are pruned (lmplz flag)")
    ap.add_argument("--vocab_pad", type=int, default=0,
                    help="pad the vocabulary with <unk> mass to at least this "
                         "many types (requires --interpolate_unigrams 1)")
    ap.add_argument("--interpolate_unigrams", type=int, default=1,
                    help="1 (default) interpolates unigrams; 0 gives the "
                         "interpolation mass to <unk> SRI-style (lmplz flag)")
    ap.add_argument("--text_col", default="text")
    ap.add_argument("--master", default="local[*]")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from ..builder.lmplz import estimate_arpa_to_path
    from ..spark.session import get_spark

    owned = SparkSession.getActiveSession() is None
    spark = get_spark("lmplz", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    if args.text.endswith(".txt"):
        df = spark.read.text(args.text).withColumnRenamed("value", args.text_col)
    else:
        df = spark.read.parquet(args.text)
    prune = expand_prune(args.prune, args.order)
    limit_vocab = None
    if args.limit_vocab_file:
        limit_vocab = set(open(args.limit_vocab_file).read().split())
    counts = estimate_arpa_to_path(
        df, args.arpa, text_col=args.text_col, order=args.order,
        prune_thresholds=prune, limit_vocab=limit_vocab,
        interpolate_unigrams=bool(args.interpolate_unigrams),
        vocab_pad=args.vocab_pad,
    )
    print(f"wrote {args.arpa} counts={counts}", file=sys.stderr)
    if owned:  # never tear down a session the caller owns (e.g. tests)
        spark.stop()


if __name__ == "__main__":
    main()
