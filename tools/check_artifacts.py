"""Commit-time guard: REGISTRY_VERIFY.json must cover the registry
EXACTLY — one entry per registered query, no extras.

tests/test_queries.py::test_verify_artifact_covers_registry enforces the
same invariant in the suite, but twice now (rounds 4 and 5) a query was
registered in a final commit without regenerating the artifact, leaving
HEAD red on a clean checkout. This script is the pre-commit teeth: the
installed hook (tools/install_hooks.sh -> .git/hooks/pre-commit) runs it
whenever a commit stages files under ws_to_kafka_spark/operators/ or the
artifact itself, comparing the STAGED artifact against the registry as
imported from the working tree. The artifact has a fixed name of its
own: the r-numbered ``VERIFY_r{N}.json`` round files (still covered by
the ``--orphans`` check) are summaries in another schema.

Exit 0 = consistent; exit 1 prints the drift and the regeneration command.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


ARTIFACT = os.path.join(REPO, "REGISTRY_VERIFY.json")


def registry_artifact() -> str:
    if not os.path.exists(ARTIFACT):
        print("check_artifacts: no REGISTRY_VERIFY.json present", file=sys.stderr)
        sys.exit(1)
    return ARTIFACT


def artifact_keys(path: str, staged: bool) -> set[str]:
    if staged:
        # read the version being committed, not the working tree
        rel = os.path.relpath(path, REPO)
        out = subprocess.run(
            ["git", "show", f":{rel}"],
            cwd=REPO,
            capture_output=True,
            text=True,
        )
        raw = out.stdout if out.returncode == 0 else open(path).read()
    else:
        raw = open(path).read()
    data = json.loads(raw)
    entries = data.get("results", data)
    return set(entries)


def warn_unstaged_operators() -> None:
    """The hook imports the registry from the WORKING tree but reads the
    STAGED artifact — a partially-staged operators/ change can pass the
    hook while the committed tree is inconsistent (round-6 ADVICE). Cheap
    guard: surface any unstaged operators/ modifications loudly so the
    committer stages the whole change or knows the check is weaker."""
    out = subprocess.run(
        ["git", "diff", "--name-only", "--", "ws_to_kafka_spark/operators/"],
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    dirty = [ln for ln in out.stdout.splitlines() if ln.strip()]
    if dirty:
        print(
            "check_artifacts WARNING: unstaged operators/ modifications — "
            "the registry check ran against the WORKING tree, which "
            "differs from what this commit records:\n  "
            + "\n  ".join(dirty),
            file=sys.stderr,
        )


#: Round-close artifacts the driver/judge drops into the worktree.
#: Rounds 9 AND 10 both ended with some of these untracked (VERDICT r10
#: item 3) — the orphan check makes that state un-committable.
_ROUND_ARTIFACT_PATTERNS = (
    r"^BENCH_r\d+\.json$",
    r"^CORRECTNESS_r\d+\.json$",
    r"^VERIFY_r\d+\.json$",
    r"^LEAKCHECK\.json$",
    r"^COPYCHECK\.json$",
)


def orphan_artifacts() -> list[str]:
    """r-numbered round artifacts that are UNTRACKED or modified but
    unstaged — i.e. would be left dirty by the commit in progress."""
    out = subprocess.run(
        ["git", "status", "--porcelain"],
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    orphans = []
    for ln in out.stdout.splitlines():
        status, _, name = ln[:2], ln[2], ln[3:].strip()
        if not any(re.match(p, name) for p in _ROUND_ARTIFACT_PATTERNS):
            continue
        # '??' untracked; a non-space second column = working-tree change
        # not (fully) staged
        if status == "??" or status[1] != " ":
            orphans.append(name)
    return sorted(orphans)


def main() -> None:
    if "--orphans" in sys.argv:
        orphans = orphan_artifacts()
        if orphans:
            print(
                "check_artifacts: round artifacts untracked/unstaged — "
                "stage them in this commit (VERDICT r10 item 3):\n  "
                + "\n  ".join(orphans)
                + "\n  git add " + " ".join(orphans),
                file=sys.stderr,
            )
            sys.exit(1)
        print("check_artifacts: no orphaned round artifacts")
        return
    staged = "--staged" in sys.argv
    if staged:
        warn_unstaged_operators()
    from ws_to_kafka_spark.operators import QUERIES

    path = registry_artifact()
    have = artifact_keys(path, staged)
    want = set(QUERIES)
    missing, extra = sorted(want - have), sorted(have - want)
    if not missing and not extra:
        print(
            f"check_artifacts: {os.path.basename(path)} covers all "
            f"{len(want)} registry keys"
        )
        return
    if missing:
        print(f"MISSING from {os.path.basename(path)}: {missing}", file=sys.stderr)
    if extra:
        print(f"STALE keys in {os.path.basename(path)}: {extra}", file=sys.stderr)
    print(
        "regenerate (and `git add` the result IN THIS COMMIT):\n"
        f"  python tools/verify_queries.py /root/testdata/sf0.01 --json "
        f"{os.path.basename(path)}",
        file=sys.stderr,
    )
    sys.exit(1)


if __name__ == "__main__":
    main()
