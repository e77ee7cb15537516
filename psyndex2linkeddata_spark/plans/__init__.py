"""Staged logical plans: extract → normalize → link → emit → dedup."""
