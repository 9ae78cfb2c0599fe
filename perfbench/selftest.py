"""Self-test of the output checks: each checker accepts a correct output and
rejects the same output with one deliberate fault. No Spark needed."""

from __future__ import annotations

import copy
import math

import catalog
import er
from probe import CheckFailed

DICTIONARY = {"angela merkel": {"Q2"}, "merkel": {"Q2", "Q9"}, "paris fc": {"Q8"}}
ROWS = [  # (mention_id, doc_id, block_key, offset, qcode, score, cluster_id)
    ("d1#0", "d1", "angela merkel", 0, "Q2", 0.91, 2),
    ("d1#20", "d1", "merkel", 20, "Q2", 0.72, 2),
    ("d2#0", "d2", "paris fc", 0, "Q8", 0.88, 8),
    ("d2#9", "d2", "market rose", 9, None, None, None),
]
WINNERS = {"d1#0": "Q2", "d1#20": "Q2", "d2#0": "Q8"}
CANDS = [  # an LSH candidate: "angela merkle" misses the exact key
    {"mention_id": "d3#0", "block_key": "angela merkle", "qcode": "Q2"},
    {"mention_id": "d1#0", "block_key": "angela merkel", "qcode": "Q2"},
]
ANSWERS = {"winners": WINNERS}
QUERY = {"cols": ["cos", "id_a", "id_b"],
         "rows": [[0.3542121052742004, 182, 196], [0.5, 1, 2], [0.75, 3, 4]]}


def _query_records(rows):
    return [dict(zip(QUERY["cols"], r)) for r in rows]


def cases():
    flipped = [r if r[0] != "d2#0" else r[:4] + ("Q9",) + r[5:] for r in ROWS]
    altered = [r if r[0] != "d1#20" else r[:5] + (0.73,) + r[6:] for r in ROWS]
    below = CANDS + [{"mention_id": "d4#0", "block_key": "paris fx", "qcode": "Q2"}]
    last_bit = copy.deepcopy(QUERY["rows"])
    last_bit[0][0] = math.nextafter(last_bit[0][0], math.inf)
    check = lambda recs: catalog.check_query(  # noqa: E731
        "q", QUERY["cols"], _query_records(recs), QUERY)
    return [
        ("one winner flipped",
         lambda: er.check_winners(ROWS, WINNERS), lambda: er.check_winners(flipped, WINNERS)),
        ("one catalog row dropped",
         lambda: check(QUERY["rows"]), lambda: check(QUERY["rows"][1:])),
        ("one float changed in its last bit",
         lambda: check(QUERY["rows"]), lambda: check(last_bit)),
        ("one resumed row altered",
         lambda: er.check_output(ROWS, list(ROWS), CANDS, ANSWERS, DICTIONARY),
         lambda: er.check_output(ROWS, altered, CANDS, ANSWERS, DICTIONARY)),
        ("one LSH candidate below the Jaccard threshold",
         lambda: er.check_lsh(CANDS, DICTIONARY), lambda: er.check_lsh(below, DICTIONARY)),
    ]


def main() -> int:
    bad = 0
    for name, good, wrong in cases():
        good()  # the unaltered output must pass
        try:
            wrong()
        except CheckFailed as e:
            print(f"ok    {name}: {e}")
        else:
            print(f"FAIL  {name}: the check accepted a wrong output")
            bad += 1
    return 1 if bad else 0
