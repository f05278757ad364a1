"""End-to-end benchmark of the shipped rollup and feature-matrix jobs."""
