#!/bin/sh
# Install the repo's git hooks (run once per clone):
#   sh tools/install_hooks.sh
#
# pre-commit: when a commit touches the operator registry or the
# REGISTRY_VERIFY.json artifact, require the STAGED artifact to cover the
# registry exactly (tools/check_artifacts.py) — the round-4/round-5
# "registered a query, forgot the artifact" drift becomes un-committable.
set -e
HOOKS_DIR="$(git rev-parse --git-dir)/hooks"
cat > "$HOOKS_DIR/pre-commit" <<'EOF'
#!/bin/sh
# Round artifacts (BENCH_r*/CORRECTNESS_r*/VERIFY_r*/LEAKCHECK/COPYCHECK)
# must never be left untracked or unstaged by a commit (VERDICT r10
# item 3 — rounds 9 and 10 both closed dirty).
python tools/check_artifacts.py --orphans || {
    echo "pre-commit: orphaned round artifacts (see above)" >&2
    exit 1
}
if git diff --cached --name-only | grep -qE '^(ws_to_kafka_spark/operators/|REGISTRY_VERIFY\.json)'; then
    python tools/check_artifacts.py --staged || {
        echo "pre-commit: REGISTRY_VERIFY.json out of sync with registry (see above)" >&2
        exit 1
    }
fi
EOF
chmod +x "$HOOKS_DIR/pre-commit"
echo "installed $HOOKS_DIR/pre-commit"
