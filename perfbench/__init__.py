"""Fixed-workload benchmark for las_vpe_platform_spark (see README.md)."""
