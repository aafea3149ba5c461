"""Multi vs single DINT dictionary diagnosis (VERDICT r02 item 5).

For a corpus (default: the 50k-doc scaling corpus via synth, or an sf
dir) reports per stream:
  * bpi single_packed vs multi_packed;
  * selector histogram of blocks (which bit-width class they fall in);
  * tournament winner histogram (dict id × codeword width) decoded from
    the control byte of every encoded block;
  * per-selector dictionary fill (entries trained vs capacity) — shows
    whether capacity binds (the regime where the reference's multi
    advantage exists, README.md:112-114).

Usage: python tools/multi_dict_report.py [sf_dir|synth:50000]
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from pyspark.sql import functions as F

    from dint_spark.build.blocks import build_block_index, index_stats, prepare_block_data
    from dint_spark.build.dint_build import MultiDintModel, learn_dint_model
    from dint_spark.codecs.dint import NUM_SELECTORS, RESERVED
    from dint_spark.codecs.registry import get_codec
    from dint_spark.session import get_spark
    from dint_spark.util import materialize

    spark = get_spark("multi_dict_report")
    if src.startswith("synth:"):
        from dint_spark.corpus import synth_corpus, with_doc_ids
        from dint_spark.build.postings import build_fulltext_index
        from dint_spark.tokenizer import tokenize_code

        corpus = with_doc_ids(synth_corpus(spark, int(src.split(":")[1])))
        tok = tokenize_code(corpus, text_col="content", doc_id_col="doc_id")
        idx = build_fulltext_index(tok)
    else:
        from dint_spark.engine import get_index

        idx = get_index(spark, src)
    postings = idx.postings.select("term_id", "doc_id", "tf")

    single = learn_dint_model(postings)
    multi = learn_dint_model(postings, MultiDintModel)

    data, meta = prepare_block_data(idx.postings.select("term_id", "doc_id", "tf", "norm_len"))
    data, meta = materialize(data), materialize(meta)
    prepared = (data, meta)

    out: dict = {"source": src, "n_postings": int(postings.count())}
    out["dict_fill"] = {
        "single": {"docs": len(single.docs), "freqs": len(single.freqs)},
        "multi": {
            "docs": [len(d) for d in multi.docs],
            "freqs": [len(d) for d in multi.freqs],
        },
        "capacity": 65536 - RESERVED,
    }

    for name, model in (("single_packed_dint", single), ("multi_packed_dint", multi)):
        codec = get_codec(name, model)
        bidx = materialize(
            build_block_index(idx.postings.select("term_id", "doc_id", "tf", "norm_len"), codec, prepared=prepared)
        )
        st = index_stats(bidx).first()
        out[name] = {
            "docs_bpi": float(st["docs_bpi"]),
            "freqs_bpi": float(st["freqs_bpi"]),
            "n_blocks": int(st["n_blocks"]),
        }
        if name == "multi_packed_dint":
            # control-byte histogram: winner dict id (+NUM_SELECTORS when
            # the 8-bit codeword width won); full blocks only — partial
            # blocks are interpolative tails with no control byte
            ctrl = (
                bidx.filter(F.col("n") == 256)
                .select(
                    F.substring("docs_bytes", 1, 1).alias("dc"),
                    F.substring("freqs_bytes", 1, 1).alias("fc"),
                )
                .collect()
            )
            hist = {"docs": {}, "freqs": {}}
            for r in ctrl:
                for key, col in (("docs", "dc"), ("freqs", "fc")):
                    c = r[col][0] if len(r[col]) else None
                    if c is None:
                        continue
                    sel, width = c % NUM_SELECTORS, (8 if c >= NUM_SELECTORS else 16)
                    k = f"sel{sel}_b{width}"
                    hist[key][k] = hist[key].get(k, 0) + 1
            out["tournament_winners"] = hist

    s, m = out["single_packed_dint"], out["multi_packed_dint"]
    out["gap_pct"] = {
        "docs": round(100.0 * (m["docs_bpi"] - s["docs_bpi"]) / s["docs_bpi"], 2),
        "freqs": round(100.0 * (m["freqs_bpi"] - s["freqs_bpi"]) / s["freqs_bpi"], 2),
    }
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
