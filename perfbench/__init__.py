"""Seeded, traced benchmark of the reference backfill and two query families."""
