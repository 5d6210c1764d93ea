"""Plain-Python references for the near-dup kernels.

Each function restates an operator's documented rule over values
collected from Spark, with no numpy and no code shared with the
kernel it checks:

* :func:`minhash_pairs_reference` — the LSH banding and bucket-pair
  rule of ``operators.minhash_lsh_pairs``, including the over-cap
  collapse, over collected MinHash signatures;
* :func:`simhash_reference` — the per-bit majority vote of
  ``operators.simhash_fingerprints`` over one document's collected
  token hashes.
"""

from collections import defaultdict
from itertools import combinations


def minhash_pairs_reference(sigs, num_bands, max_bucket_size,
                            min_jaccard=0.0, stats=None):
    """``{(id_a, id_b, est_jaccard)}`` with ``id_a < id_b`` from
    signatures ``{id: [component, ...]}``.

    Two documents share a bucket for band ``b`` when their components
    ``[b*r, (b+1)*r)`` are equal (``r = num_hashes / num_bands``).  A
    bucket of at most ``max_bucket_size`` members pairs every two
    members.  A larger bucket collapses: its members sort by
    (signature, id); a member whose signature equals the previous
    member's pairs with it; the first member of each identical run is a
    representative; the representatives pair every two when there are
    at most ``max_bucket_size`` of them, else the first representative
    pairs with each of the others.  ``est_jaccard`` is the fraction of
    equal components, rounded to 6 places; pairs below ``min_jaccard``
    are dropped.

    ``stats``, when a dict, counts the buckets that ``collapsed`` and
    those that fell back to the ``star``.
    """
    num_hashes = len(next(iter(sigs.values())))
    rows = num_hashes // num_bands
    buckets = defaultdict(list)
    for doc, sig in sigs.items():
        for b in range(num_bands):
            buckets[(b, tuple(sig[b * rows:(b + 1) * rows]))].append(doc)

    def ordered(a, b):
        return (a, b) if a < b else (b, a)

    pairs = set()
    for members in buckets.values():
        if len(members) <= max_bucket_size:
            pairs.update(ordered(a, b) for a, b in combinations(members, 2))
            continue
        run = sorted(members, key=lambda d: (sigs[d], d))
        reps = [run[0]]
        for prev, cur in zip(run, run[1:]):
            if sigs[cur] == sigs[prev]:
                pairs.add(ordered(prev, cur))
            else:
                reps.append(cur)
        if len(reps) <= max_bucket_size:
            pairs.update(ordered(a, b) for a, b in combinations(reps, 2))
            kind = "collapsed"
        else:
            pairs.update(ordered(reps[0], o) for o in reps[1:])
            kind = "star"
        if stats is not None:
            stats[kind] = stats.get(kind, 0) + 1

    def est(a, b):
        equal = sum(x == y for x, y in zip(sigs[a], sigs[b]))
        return round(equal / num_hashes, 6)

    out = {(a, b, est(a, b)) for a, b in pairs}
    return {p for p in out if p[2] >= min_jaccard}


def simhash_reference(hashes, bits):
    """SimHash of one document's signed 64-bit token hashes: bit ``b``
    is set when at least half of the tokens have bit ``b`` set, so a
    document with no tokens has every bit set; ``None`` stays ``None``."""
    if hashes is None:
        return None
    n = len(hashes)
    return sum(
        1 << b for b in range(bits)
        if 2 * sum((h >> b) & 1 for h in hashes) >= n
    )
