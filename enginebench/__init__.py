"""End-to-end benchmark of the engine's user-facing doors.

Run one workload with ``python3 enginebench/run.py --workload <name>
--seed <n> --seconds <s> --trace <0|1>`` from the repository root; the last
line of standard output is the JSON result.
"""
