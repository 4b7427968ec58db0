"""The mock GitHub dataset, derived from a seed: repos of uneven size,
the child counts of every pull request, and the snapshot-table row
counts they imply. Standard library only, so the mock server process
starts fast."""

from __future__ import annotations

import random

# Uneven repo sizes, in pull requests: one large repo dominates, so a
# serial per-repo scan and serial child fetches both show in run time.
REPO_SIZES = (40, 12, 4)


def github_repos(seed: int) -> dict[str, int]:
    """repo name -> PR count. Names depend on the seed, sizes do not."""
    rnd = random.Random(seed)
    return {
        f"bench{rnd.randrange(10_000):04d}/repo{i}": n
        for i, n in enumerate(REPO_SIZES)
    }


def pr_shape(seed: int, repo: str, number: int) -> dict:
    """Child counts of one PR, shared by the mock server and the
    expected-count check so both see the same data: ``files`` per
    commit, reviews with a user and with a null user, comments with a
    body and with an empty body."""
    rnd = random.Random(f"{seed}:{repo}:{number}")
    return {
        "files": [rnd.randint(1, 3) for _ in range(rnd.randint(1, 3))],
        "reviews": rnd.randint(0, 3),
        "null_reviews": int(rnd.random() < 0.2),
        "comments": rnd.randint(0, 3),
        "empty_comments": int(rnd.random() < 0.2),
    }


def expected_rows(seed: int) -> dict[str, dict[str, int]]:
    """repo -> snapshot table -> the row count the generator implies:
    null-user reviews and empty-body comments are dropped, and
    ``commits`` has one row per (commit, file)."""
    out = {}
    for repo, n in github_repos(seed).items():
        rows = out[repo] = {"pull_requests": n, "commits": 0, "reviewers": 0, "comments": 0}
        for number in range(1, n + 1):
            s = pr_shape(seed, repo, number)
            rows["commits"] += sum(s["files"])
            rows["reviewers"] += s["reviews"]
            rows["comments"] += s["comments"]
    return out
