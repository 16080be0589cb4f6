def pytest_configure(config):
    config.addinivalue_line("markers", "slow: starts Spark (about half a minute each)")
