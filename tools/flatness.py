#!/usr/bin/env python3
"""Silent-interpretation screen over two Bench artifacts (VERDICT r18 #1/#7).

Usage: python3 tools/flatness.py <small_bench.json> <big_bench.json>

Both inputs are BENCH_SELF.json-style artifacts (the full line Bench writes:
"queries" = hot seconds per key, "rows" = scan rows per key) taken at two
data scales. For every key present in both it computes per-row cost
(hot_sec * 1e6 / rows, in microseconds/row) at each scale and flags:

  INTERP  per-row cost HIGH (> --cost us/row at the big scale, default 5)
          and FLAT (big/small per-row ratio in [0.5, 2]) while rows grew
          >= 10x. A compiled whole-stage pipeline costs ~0.1 us/row; an
          interpreted expression tree ~300 us/row, identical at every
          scale because the tax is per-row (the r18 x94 class, which
          emits NO log at any level). Healthy linear operators are also
          flat -- the absolute-cost floor is what separates them.

  GROWTH  wall grew > 30x while rows grew <= 10x of that (superlinear
          without a contract note) -- the x57/x29-class keys carry
          documented attributions; anything else needs one.

Exit code 1 if any unattributed flag fires (so a round can gate on it).
"""
import json
import sys

# keys whose superlinear growth is contract-bound, with the VERDICT/BASELINE
# attribution (kept here so the screen stays quiet on known-shape keys; a
# NEW key never enters this list without a written attribution)
ATTRIBUTED_GROWTH = {
    "x57_ivfpq_search": "re-encodes per query by design (fresh-vs-indexed contrast)",
    "x29_ann_recall": "brute-force truth side is O(N*Q) by definition",
    "x181_matryoshka_recall": "brute eval pairs are O(N*Q) by definition",
    "x69_embed_outliers": "flop-bound model sweep (BASELINE r18)",
    "x161_ivf_silhouette": "flop-bound model sweep (BASELINE r18)",
    "x25_semantic_dedup": "O(N^2/nlist) within-centroid pair eval by contract",
    "x26_knn_graph": "O(N^2/nlist) within-centroid pair eval by contract",
    "x20_cosine_neardup": "brute-force all-pairs BASELINE by contract; x21/x22 are the scale paths",
    # r20, sf10 gate: the OUTPUT is the quadratic object under verbatim
    # duplicate floods (scalegen copies c_name 100x): 262k verified name
    # pairs x 100x100 id expansion = 2.6B output rows; the oracle twin
    # states the same table. x119 (name-level, never id-expands) is the
    # scale path.
    "x96_fuzzy_match": "output is O(dup^2) id-pair expansion by contract under duplicate floods; x119 is the scale path",
    "x126_phash_neardup": "rep-collapsed since r19; remaining cost is the O(dup^2) OUTPUT pair expansion + contract orderBy (r20 sf10 gate)",
    "x42_simhash": "rep-collapsed; O(dup^2) output pair expansion by contract (r20 sf10 gate)",
    "x21_ann_lsh": "bucket candidate density grows with verbatim-duplicate rate; per-candidate eval compiled, output includes each dup id (r20 sf10 gate)",
    "x83_kmeans_ivf": "rows meter is blind to the sample-bounded training collect (model path); wall is flop-bound k-means by contract (r20 sf10 gate)",
    "x135_stream_neardup_replay": "FIXED r20 (rep-collapse like x41): 286->7.4 s at sf10 (BENCH_SF10_X135.json); a flag against the pre-fix BENCH_SF10.json artifact describes the state the gate caught",
}

# Keys whose HIGH-and-FLAT per-row cost is attributed per-BYTE or per-FLOP
# work in COMPILED pipelines (per-row cost tracks text bytes / vector flops,
# which the rows denominator can't see). An entry only holds while the big
# artifact's `fallbacks` meter reads 0 for the key: a logged codegen
# fallback, or an artifact without the meter, leaves the flag INTERP?.
ATTRIBUTED_COST = {
    "x36_normalize": "canon chain is per-BYTE regex+md5 over ~KB docs; compiled (fallbacks=0), wall_x ~ rows_x",
    "x128_dup_weights": "per-BYTE md5+tokenize+set-jaccard; compiled, wall grew SLOWER than rows (74.9x vs 103.5x)",
    "x172_readability": "was 3 regex passes per doc; rewritten r20 as one-pass codegen TextStats (see OPTIMIZATION_r20.md)",
    "x22_ann_ivf": "flop-bound IVF assign kernel (nlist x dim mults/row); compiled, wall_x ~ rows_x",
}


def load(path):
    with open(path) as f:
        txt = f.read().strip()
    # BENCH_SELF.json is one JSON line; BENCH_r*.json may wrap it
    for line in reversed(txt.splitlines()):
        line = line.strip()
        if line.startswith("{"):
            d = json.loads(line)
            if "queries" in d:
                return d
    raise SystemExit(f"{path}: no bench JSON line with a 'queries' map")


def compiled(art, key):
    """True when the artifact's fallbacks meter ran and counted none for key."""
    fallbacks = art.get("fallbacks")
    return isinstance(fallbacks, dict) and fallbacks.get(key, 0) == 0


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    small, big = load(sys.argv[1]), load(sys.argv[2])
    if "rows" not in small or "rows" not in big:
        raise SystemExit("both artifacts need the 'rows' map (Bench >= r19)")
    cost_floor = 5.0  # us/row; compiled pipelines sit orders below this
    flagged = []
    keys = sorted(set(small["queries"]) & set(big["queries"]))
    print(f"{'key':34} {'rows_s':>12} {'rows_b':>12} {'us/row_s':>9} "
          f"{'us/row_b':>9} {'wall_x':>7} {'rows_x':>7}  flag")
    for k in keys:
        hs, hb = small["queries"][k], big["queries"][k]
        rs, rb = small["rows"].get(k, 0), big["rows"].get(k, 0)
        if min(hs, hb) < 0 or rs <= 0 or rb <= 0:
            continue
        cs, cb = hs * 1e6 / rs, hb * 1e6 / rb
        wall_x = hb / hs if hs > 0 else float("inf")
        rows_x = rb / rs
        flag = ""
        if rows_x >= 10 and cb > cost_floor and 0.5 <= cb / cs <= 2.0:
            if k in ATTRIBUTED_COST and compiled(big, k):
                flag = f"cost-attributed: {ATTRIBUTED_COST[k]}"
            else:
                flag = "INTERP?"
        elif wall_x > 30 and wall_x > 3 * rows_x:
            if k in ATTRIBUTED_GROWTH:
                flag = f"growth-attributed: {ATTRIBUTED_GROWTH[k]}"
            else:
                flag = "GROWTH?"
        if flag.endswith("?"):
            flagged.append((k, flag))
        if flag:
            print(f"{k:34} {rs:>12} {rb:>12} {cs:>9.3f} {cb:>9.3f} "
                  f"{wall_x:>7.1f} {rows_x:>7.1f}  {flag}")
    if flagged:
        print(f"\n{len(flagged)} unattributed flag(s):")
        for k, f in flagged:
            print(f"  {k}: {f}")
        sys.exit(1)
    print("\nno unattributed interpretation/growth signatures")


if __name__ == "__main__":
    main()
