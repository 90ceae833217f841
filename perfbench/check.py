"""Correctness gate: compare a finished crawl with the simulator golden.

Rows are compared themselves (sorted tuples), never through the engine's
``bit_xor`` digests: xor cancels pairs of identical rows and ``concat_ws``
skips nulls, so two different logs can share a digest.
"""

from __future__ import annotations

from perfbench.workloads import DEAD_COLS, FETCH_COLS, row_key


def failed_rounds(eng, golden: dict, upto_round: int) -> list[int]:
    """Rounds <= upto_round whose committed fetch_log differs from the
    golden or that never committed.  When the final state is reached
    (upto_round is the golden's last round) a url_seen or dead_letter
    mismatch fails the last round too."""
    from crawler_spark.sources import snapshots as snap

    committed = set(snap.committed_rounds(eng.ckpt_dir))
    rows: dict[str, list] = {}
    for r in eng.fetch_log().select(*FETCH_COLS).collect():
        rows.setdefault(str(r["round"]), []).append(list(r))
    bad = []
    for rnd in range(upto_round + 1):
        got = sorted(rows.get(str(rnd), []), key=row_key)
        if rnd not in committed or got != golden["fetch_log"].get(str(rnd), []):
            bad.append(rnd)
    extra = {int(k) for k in rows} - set(range(upto_round + 1))
    bad.extend(sorted(extra))
    last = golden["rounds"] - 1
    if upto_round == last and last not in bad:
        seen = sorted(r["url"] for r in eng.url_seen().select("url").collect())
        dead_df = eng.dead_letter()
        dead = sorted(list(r) for r in dead_df.select(*DEAD_COLS).collect()) if dead_df else []
        if seen != golden["url_seen"] or dead != golden["dead"]:
            bad.append(last)
    return bad


def payload_ok(summary: dict, golden: dict) -> bool:
    """Ingest pass verdict: every checked image passed and the number
    checked equals the distinct fetched images per round."""
    return bool(summary.get("payload_ok")) and (
        summary.get("payload_checked") == golden["payload_checked"]
    )
