"""Seeded Jira corpus: issues in the REST search envelope, plus the
per-task example counts the reference's flatMap gates predict for them.

Everything here is plain Python and depends only on the seed, so the
same seed renders byte-identical pages, and the expected counts are
derived without Spark (`expected_task_counts`).

What the seed draws, per issue: description length (word count from a
heavy-tailed draw, a few past the 20k-char truncation), comments per
issue (0-6, some whitespace-only so the extractor drops them), null
fields (summary, description, priority, assignee, resolutiondate), and
a share of near-duplicate re-filed issues that copy an earlier issue's
text with a small edit.
"""

from __future__ import annotations

import json
import random

PROJECTS = ("KAFKA", "SPARK", "HADOOP", "FLINK", "HIVE", "HBASE")

_WORDS = (
    "broker partition offset consumer producer leader replica topic commit "
    "executor shuffle stage task driver memory spill join plan cache block "
    "namenode datanode rpc lease quota snapshot checkpoint watermark window "
    "timeout retry exception stack trace null pointer regression flaky test "
    "patch review config upgrade deprecate schema parquet orc codec compression"
).split()
_STATUSES = ("Open", "In Progress", "Resolved", "Closed", "Reopened", "Patch Available")
_PRIORITIES = ("Blocker", "Critical", "Major", "Minor", "Trivial")
_TYPES = ("Bug", "Improvement", "New Feature", "Task", "Sub-task", "Test")

REFILE_SHARE = 0.05  # near-duplicate re-filed issues
TASK_TYPES = (
    "summarization",
    "classification",
    "status_prediction",
    "question_answering",
    "issue_resolution",
)


def _text(rng: random.Random, n_words: int) -> str:
    words = [rng.choice(_WORDS) for _ in range(n_words)]
    # whitespace runs of every kind the extractor's cleaner collapses
    seps = [rng.choice((" ", " ", " ", "  ", "\n", "\t", " \n ")) for _ in words]
    return "".join(w + s for w, s in zip(words, seps))


def _ts(rng: random.Random, year: int) -> str:
    return (
        f"{year}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}T"
        f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:00.000+0000"
    )


def make_issue(rng: random.Random, project: str, i: int, earlier: list[dict]) -> dict:
    status = rng.choice(_STATUSES)
    resolved = status in ("Resolved", "Closed")
    summary = _text(rng, rng.randint(3, 12)).strip() if rng.random() > 0.02 else None
    r = rng.random()
    if r < 0.08:
        description = None
    elif r < 0.12:
        description = " \n\t "  # cleans to ''
    else:
        # heavy tail: most issues a paragraph, a few past the 20k-char cap
        n = min(int(rng.paretovariate(1.3) * 25), 4000)
        description = _text(rng, n)
    if earlier and rng.random() < REFILE_SHARE:
        src = rng.choice(earlier)["fields"]
        summary = "[re-filed] " + (src["summary"] or "")
        description = (src["description"] or "") + " (seen again)"
    comments = []
    for j in range(rng.choice((0, 0, 1, 1, 2, 3, 4, 6))):
        body = _text(rng, rng.randint(1, 40)) if rng.random() > 0.1 else "   "
        comments.append(
            {
                "author": {"displayName": f"dev{rng.randint(0, 49)}", "name": None},
                "created": _ts(rng, 2024),
                "body": body,
            }
        )
    r = rng.random()
    assignee = (
        None
        if r < 0.2
        else {"displayName": None, "name": f"user{rng.randint(0, 30)}"}
        if r < 0.3
        else {"displayName": f"Dev {rng.randint(0, 30)}", "name": None}
    )
    return {
        "key": f"{project}-{i}",
        "id": str(100_000 + i),
        "fields": {
            "summary": summary,
            "description": description,
            "status": {"name": status},
            "priority": {"name": rng.choice(_PRIORITIES)} if rng.random() > 0.05 else None,
            "issuetype": {"name": rng.choice(_TYPES)},
            "reporter": {"displayName": f"Reporter {rng.randint(0, 99)}", "name": None},
            "assignee": assignee,
            "created": _ts(rng, 2023),
            "updated": _ts(rng, 2024),
            "resolutiondate": _ts(rng, 2024) if resolved else None,
            "labels": rng.sample(_WORDS, rng.randint(0, 3)),
            "components": [{"name": c} for c in rng.sample(_WORDS, rng.randint(0, 2))],
            "versions": [{"name": f"3.{rng.randint(0, 9)}.0"}] if rng.random() < 0.5 else [],
            "fixVersions": [],
            "comment": {"comments": comments},
        },
    }


def make_corpus(seed: int, n_projects: int, per_project: int) -> dict[str, list[dict]]:
    """`per_project` issues for each of the first `n_projects` projects,
    in `created ASC` order (the order the search endpoint pages them)."""
    corpus = {}
    for p, project in enumerate(PROJECTS[:n_projects]):
        rng = random.Random(seed * 1_000_003 + p)
        issues: list[dict] = []
        for i in range(per_project):
            issues.append(make_issue(rng, project, i, issues))
        corpus[project] = issues
    return corpus


def render(corpus: dict[str, list[dict]]) -> bytes:
    """Canonical bytes of a corpus (the determinism test hashes these)."""
    return json.dumps(corpus, sort_keys=True, separators=(",", ":")).encode()


def _clean(s: str | None) -> str:
    # the extractor's clean_text: collapse whitespace runs and strip
    return " ".join(s.split()) if s else ""


def expected_task_counts(issues: list[dict]) -> dict[str, int]:
    """Examples per task type that the 1->7 flatMap must emit for
    `issues`, from the gates in operators/tasks.py applied to the raw
    fields in Python."""
    counts = dict.fromkeys(TASK_TYPES, 0)
    for issue in issues:
        f = issue["fields"]
        title = _clean(f["summary"])
        has_desc = _clean(f["description"]) != ""
        status = (f["status"] or {}).get("name") or "Unknown"
        priority = (f["priority"] or {}).get("name") or "Unknown"
        a = f["assignee"] or {}
        assignee = a.get("displayName") or a.get("name") or "Unknown"
        kept = [c for c in f["comment"]["comments"] if _clean(c["body"])]
        counts["summarization"] += has_desc or bool(kept)
        counts["classification"] += title != "" and priority != ""
        counts["status_prediction"] += title != "" and status != ""
        counts["question_answering"] += 2 + (assignee not in ("", "Unknown"))
        counts["issue_resolution"] += bool(kept) and status in ("Resolved", "Closed")
    return counts
