"""Pure-Python Indri-RM expansion oracle shared by the feedback tests."""

import math


def py_expand(oracle_index, ranking, fb_docs, fb_terms, fb_mu):
    """Pure-Python transcription of `QryEval.java:78-200` (ties → term asc)."""
    top = ranking[:fb_docs]
    c = oracle_index.sumlen["body"]
    # candidate terms = stems of top docs
    cand = set()
    tf_map = {}
    for d, _ in top:
        for (term, fld), il in oracle_index.inv.items():
            if fld != "body":
                continue
            for p in il.postings:
                if p.doc_id == d:
                    cand.add(term)
                    tf_map[(term, d)] = p.tf
    scores = {}
    for t in cand:
        if "." in t or "," in t:
            continue
        ctf = oracle_index.inv[(t, "body")].ctf
        mle = ctf / c
        s = 0.0
        for d, doc_score in top:
            tf = tf_map.get((t, d), 0)
            dl = oracle_index.doclen[("body", d)]
            ptd = (tf + fb_mu * mle) / (dl + fb_mu)
            s += ptd * doc_score * math.log(1 / mle)
        scores[t] = s
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:fb_terms]
    return "#wand ( " + " ".join(f"{s:.4f} {t}" for t, s in ranked) + " )"
