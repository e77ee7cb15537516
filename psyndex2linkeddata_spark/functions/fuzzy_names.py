"""J9/J10 — fuzzy PAUP/ORCID ↔ contribution matching kernel.

Reference: /root/reference/modules/contributions.py
match_paups_to_contribution_nodes (:408-498) and
match_orcids_to_contribution_nodes (:500-576): for EACH id field (PAUP /
ORCID), scan the work's person contributions in order and attach the id
to the FIRST agent whose normalized name scores
`fuzz.partial_ratio > 80`. The id node's rdf:type is graph.set (single)
but the rdf:value is graph.add — two fields matching the same agent
ACCUMULATE rdf:value triples on the one `{agent}_orcid` /
`{agent}_psychauthorsid` node, so the matcher returns a LIST of ids per
position, in field order.

`_partial_ratio_blocks` reimplements fuzzywuzzy's partial_ratio on
difflib (the pure-python backend fuzzywuzzy itself uses): best
SequenceMatcher ratio of the shorter string against same-length
substrings of the longer, aligned at each matching block.
`partial_ratio_gt` decides `partial_ratio > threshold` with two exact
fast paths in front of it.

normalize_person_name is F9 (contributions.py:764-784): umlauts/ß →
ascii on the family name, given name abbreviated to an initial.

Deviation (documented): the reference's PAUP branch crashes on a name
without a comma (`paup_split[1]` IndexError); we apply the ORCID
branch's fallback (use the raw name) instead of failing the record.

The kerndaten alternate-name tier (:456-498): when a PAUP id matches NO
contribution directly (the reference's for-else), every person
contribution is rechecked against the `schema:alternateName` variants
kerndaten.ttl holds for that paup id — a match on ANY alternate attaches
the id to that agent, and (unlike the direct tier) the loop does not
break, so several agents can receive it. The authority rows arrive here
as the `alternates` dict ({paup_id: [name, ...]}), pre-joined per record
by the broadcast kerndaten resolution map (plans/pipeline.py) — SURVEY
§1.4's broadcast-person-authority shape.

emit/arrow.py calls it per record (partial_ratio is genuinely
procedural). The golden oracle carries its own independent
implementation (tests/golden_oracle.py).
"""

from __future__ import annotations

from collections import Counter
from difflib import SequenceMatcher

_UMLAUTS = [
    ("ä", "ae"), ("ö", "oe"), ("ü", "ue"),
    ("Ä", "Ae"), ("Ö", "Oe"), ("Ü", "Ue"), ("ß", "ss"),
]


def ascii_umlauts(s: str) -> str:
    for raw, rep in _UMLAUTS:
        s = s.replace(raw, rep)
    return s


def normalize_person_name(family: str | None, given: str | None) -> str | None:
    """F9 twin: ('Müller', 'Thomas') -> 'Mueller, T.'."""
    if family is None:
        return None
    fam = ascii_umlauts(family)
    if given:
        return f"{fam}, {given[0]}."
    return fam


def _partial_ratio_blocks(shorter: str, longer: str) -> int:
    """The unshortcut block algorithm (fuzzywuzzy's, on difflib) — kept
    separate so the fast paths below can be parity-tested against it."""
    blocks = SequenceMatcher(None, shorter, longer).get_matching_blocks()
    best = 0.0
    for i, j, _size in blocks:
        long_start = j - i if j - i > 0 else 0
        long_substr = longer[long_start : long_start + len(shorter)]
        r = SequenceMatcher(None, shorter, long_substr).ratio()
        if r > 0.995:
            return 100
        best = max(best, 100 * r)
    return int(round(best))


def partial_ratio_gt(s1: str, s2: str, threshold: int) -> bool:
    """Exact `partial_ratio(s1, s2) > threshold`, cheaply.

    Substring fast path: when the shorter string occurs verbatim in the
    longer, the block walk is guaranteed to find that alignment (the
    occurrence IS the longest matching block, so (0, j, len(shorter)) is
    emitted and its window ratio is 1.0 → the early 100 return) — the
    score is 100 exactly. It covers the most common case in the J9/J10
    matcher (identical normalized names).

    Upper-bound certificate: SequenceMatcher.ratio() = 2M/(len(a)+len(b))
    with M the total matched-block size. M is a common subsequence of the
    shorter string `a` and a window `b` of the longer, so M ≤ inter (the
    char-multiset intersection of shorter and LONGER — a superset of any
    window's), and len(b) ≥ M (the window contains the matched chars).
    Hence ratio ≤ 2·inter/(len(a)+inter), monotone in M. partial_ratio
    rounds half-up, so `100·best < threshold + 0.5` certifies the int
    comparison is False — no difflib call needed. Otherwise fall through
    to the exact algorithm. ~41% of the emit stage's CPU was difflib on
    pairs this bound rejects (BENCH.md round-5 close)."""
    if s1 is None or s2 is None:
        return 0 > threshold
    shorter, longer = (s1, s2) if len(s1) <= len(s2) else (s2, s1)
    if shorter in longer:
        return 100 > threshold
    inter = sum((Counter(shorter) & Counter(longer)).values())
    if 200.0 * inter / (len(shorter) + inter) < threshold + 0.5:
        return False
    return _partial_ratio_blocks(shorter, longer) > threshold


def split_comma_name(name: str) -> tuple[str, str | None]:
    """Reference pattern `name.split(',')` + strip — returns (family,
    given) with given None when there is no comma (fallback branch)."""
    parts = name.split(",")
    if len(parts) >= 2:
        return parts[0].strip(), parts[1].strip()
    return name, None


def match_ids_to_positions(
    id_fields: list[tuple[str | None, str | None]],
    person_names: list[tuple[int, str | None, str | None]],
    threshold: int = 80,
    alternates: dict[str, list[str]] | None = None,
) -> dict[int, list[str]]:
    """Reference-direction matcher.

    id_fields: [(name, id), ...] in field order — mainfield + the id
    subfield of each PAUP/ORCID entry.
    person_names: [(pos, family, given), ...] person contributions in
    position order (the F8-split names the agents carry in the graph).
    alternates: {id: [alternate name, ...]} — the kerndaten tier
    (PAUP only; pass None for ORCID).

    Returns {pos: [id, ...]} — for each id field, the first contribution
    with partial_ratio(normalized_entry, normalized_agent) > threshold;
    later fields matching the same position APPEND (the reference
    graph.add's each rdf:value onto the shared id node). When NO
    contribution matches directly and `alternates` has the id
    (contributions.py:447-498): every contribution is rechecked against
    each alternate name — a hit adds the id to that agent, without
    breaking out of the agent loop (several agents can receive it; the
    shared id node dedups repeat hits on one agent).
    """
    norm_positions = [
        (pos, normalize_person_name(family, given))
        for pos, family, given in person_names
    ]
    out: dict[int, list[str]] = {}
    for name, id_ in id_fields:
        if id_ is None or name is None:
            continue
        fam, giv = split_comma_name(name)
        entry_norm = (
            normalize_person_name(fam, giv) if giv is not None else name
        )
        for pos, agent_norm in norm_positions:
            if agent_norm is None:
                continue
            if partial_ratio_gt(entry_norm, agent_norm, threshold):
                out.setdefault(pos, []).append(id_)
                break
        else:
            # map cells from Arrow arrive as numpy arrays — no truthiness
            alts = (alternates or {}).get(id_)
            for alt in list(alts) if alts is not None else []:
                alt_fam, alt_giv = split_comma_name(alt)
                if alt_giv is None:
                    # the reference indexes alternatename_split[1]
                    # unguarded; skip comma-less variants instead
                    continue
                alt_norm = normalize_person_name(alt_fam, alt_giv)
                for pos, agent_norm in norm_positions:
                    if agent_norm is None:
                        continue
                    if (
                        partial_ratio_gt(alt_norm, agent_norm, threshold)
                        and id_ not in out.get(pos, [])
                    ):
                        out.setdefault(pos, []).append(id_)
    return out
