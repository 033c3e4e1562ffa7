"""Pipeline plumbing: per-run stage metrics log, checkpoint/resume."""
