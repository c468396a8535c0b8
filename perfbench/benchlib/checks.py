"""Correctness checks. Each raises CheckFailed with what it saw; nothing
here catches it, so a failed check ends the command with a non-zero exit
and no result line.
"""

import json

# Recall@15 of the served ivf_sq8 answers against the exact top-15. The
# planted neighbour groups are tight, so a healthy index finds them all.
RECALL_FLOOR = 0.9
# Planted near-duplicate pairs (3-shingle Jaccard 0.98-0.99) that may
# survive near dedup in one run. With independent hash families,
# MinHash-LSH at k = 8 in 4 bands of 2 rows misses such a pair with
# probability (1 - J**2)**4, 2.5e-6 at J = 0.98 and 1.6e-7 at J = 0.99.
# The program's families are Kirsch-Mitzenmacher (h1 + j*h2) and
# correlated: they missed about 1 in 2,000 pairs, 0.18 of the 360 planted
# pairs a run. At that rate a run leaves more than 2 with Poisson
# probability 8.5e-4; a tenfold loss of recall (1.8 a run) exceeds 2 in
# 27 % of runs.
NEAR_SURVIVE_CEILING = 2


class CheckFailed(AssertionError):
    pass


def expect(ok, what):
    if not ok:
        raise CheckFailed(what)


def equal(name, got, want):
    expect(got == want, f"{name}: got {got!r}, expected {want!r}")


def search_ids(body):
    return [d["id"] for d in json.loads(body)["response"]["docs"]]


def recall(served, truth):
    return len(set(served) & set(truth)) / len(truth)


def check_search(requests, truth, k):
    """Every answered /search response returns k ids; their mean recall
    against the benchmark's brute-force top-k meets the floor."""
    rs = []
    for r in requests:
        if r.status != 200:
            continue
        ids = search_ids(r.body)
        equal(f"/search q{r.qidx} result size", len(ids), k)
        rs.append(recall(ids, truth[r.qidx]))
    expect(rs, "no /search response to check")
    mean = sum(rs) / len(rs)
    expect(mean >= RECALL_FLOOR, f"/search mean recall@{k} {mean:.4f} below floor {RECALL_FLOOR}")
    return mean


def check_hybrid(requests, direct):
    """Every answered /hybrid response equals HybridSearchService.search
    called directly with the same text: ranks, ids and fused scores."""
    n = 0
    for r in requests:
        if r.status != 200:
            continue
        docs = json.loads(r.body)["response"]["docs"]
        got = [[d["rank"], d["doc_id"], d["rrf"]] for d in docs]
        equal(f"/hybrid q{r.qidx}", got, direct[r.qidx])
        n += 1
    expect(n > 0, "no /hybrid response to check")
    return n


def check_frames(kept_per_pass, planted):
    """The frames lake of every ingest pass holds exactly the planted
    distinct-frame count."""
    for i, got in enumerate(kept_per_pass):
        equal(f"frames kept in pass {i}", got, planted)


def check_curated(kept_ids, pii_left, hashes, exact_pairs, near_pairs, prior_hash):
    """No planted exact duplicate pair survives whole, at most
    NEAR_SURVIVE_CEILING near ones do, no planted PII string remains,
    and the order-free output hash repeats across passes and across runs of
    the same seed. Returns the surviving near pairs."""
    kept = set(kept_ids)
    survivors = {}
    for kind, pairs in (("exact", exact_pairs), ("near", near_pairs)):
        survivors[kind] = [p for p in pairs if p[0] in kept and p[1] in kept]
    both = survivors["exact"]
    expect(not both, f"{len(both)} planted exact duplicate pairs survive, e.g. {both[:3]}")
    both = survivors["near"]
    expect(len(both) <= NEAR_SURVIVE_CEILING,
           f"{len(both)} of {len(near_pairs)} planted near duplicate pairs survive, e.g. {both[:3]}")
    expect(not pii_left, f"{len(pii_left)} planted PII strings survive, e.g. {pii_left[:3]}")
    expect(len(set(hashes)) == 1, f"output hash differs between passes: {hashes}")
    if prior_hash is not None:
        equal("output hash against an earlier run of this seed", hashes[0], prior_hash)
    return len(survivors["near"])
